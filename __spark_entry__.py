"""Driver contract for the spark-graft builder (PySpark target).

Every entry in ``queries()`` is a Spark-first implementation of an
operator from SURVEY.md §2 (Broadway-derived dataflow operators) or a
driver-mandated scale extension (dedup / similarity / text analysis /
relational suite). ``oracle_sql()`` holds the DuckDB twin of each query;
both sides are generated from shared constants (hash seeds, band
layouts, stopword sets) in ``broadway_spark`` so they cannot drift.

Numeric policy for oracle-exactness:
- money/value sums go through DECIMAL(18,2) so summation is exact and
  engine-order-independent, then CAST to DOUBLE;
- floating similarity scores are rounded to 6dp on both sides;
- rankings order by the *rounded* score with an id tiebreak so top-k
  sets are engine-independent.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from broadway_spark.functions import hashing as H
from broadway_spark.functions import sketches as K
from broadway_spark.functions import text as T
from broadway_spark.functions import vectors as V
from broadway_spark.functions import exact as X
from broadway_spark.operators import batching as B
from broadway_spark.operators import dedup as D
from broadway_spark.operators import failure as FL
from broadway_spark.operators import partitioning as P
from broadway_spark.operators import similarity as S
from broadway_spark.operators import skew as SK
from broadway_spark.operators import temporal as TM
from broadway_spark.operators import layout as LY
from broadway_spark.operators import ranking as RK
from broadway_spark.operators.materialize import materialize


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # The events table's ts physical type has varied across datagen
        # versions: parquet TIMESTAMP(NANOS) (readable only via the
        # nanosAsLong escape hatch) and TIMESTAMP(isAdjustedToUTC=false)
        # (loads as TIMESTAMP_NTZ, which unix_micros & co. reject).
        # Normalize both to a proper TIMESTAMP here; the session tz is
        # pinned to UTC so the NTZ cast is the identity interpretation
        # and matches DuckDB's naive-epoch math.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# Decimal-exact sum of a DOUBLE column: identical in Spark and DuckDB.
def _dsum(col: str) -> F.Column:
    return F.sum(F.col(col).cast("decimal(18,2)")).cast("double")


def _dsum_sql(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,2))) AS DOUBLE)"


# ---------------------------------------------------------------------------
# Broadway-core operators (SURVEY §2.1-§2.6)
# ---------------------------------------------------------------------------


def q_s1_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/P5: source scan + terminal aggregate (producer → consumer)."""
    ev = _t(spark, sf_dir, "events")
    return ev.agg(
        F.count(F.lit(1)).alias("n_events"),
        _dsum("value").alias("sum_value"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


def q_s3_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: transformer — raw payload JSON → typed envelope fields.

    Mirrors the transformer stage (reference
    lib/broadway/topology/producer_stage.ex:267-281)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
        F.col("event_type").alias("event_type"),
    )


def q_p1_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: prepare_messages bulk enrichment — broadcast dimension join.

    (reference lib/broadway.ex:912-947: the documented use case is bulk
    DB preload for a demand batch; Spark-first that is a broadcast hash
    join against the dimension, zero Python.)"""
    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    return (
        ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum("value").alias("sum_value"),
        )
    )


def q_p2_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: handle_message scalar-transform suite (arithmetic / string /
    date expressions, all codegen)."""
    li = _t(spark, sf_dir, "lineitem")
    revenue = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
    ).cast("double")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(revenue, 4).alias("revenue"),
        F.lower(F.concat("l_returnflag", "l_linestatus")).alias("flag_status"),
        F.year("l_shipdate").alias("ship_year"),
        F.month("l_shipdate").alias("ship_month"),
        F.col("l_quantity").cast("int").alias("qty"),
    )


def q_p3_failure_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3/A5: failure diversion — the status error channel, not
    exceptions. Counts both branches."""
    ev = _t(spark, sf_dir, "events")
    ev = FL.with_status(
        ev, F.col("event_type") == "error", reason="poison:error-event"
    )
    return ev.groupBy(F.col("status.ok").alias("ok")).agg(
        F.count(F.lit(1)).alias("n"),
        _dsum("value").alias("sum_value"),
    )


def q_x2_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: partition_by — hash-bucket routing with per-bucket stats."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("bucket", P.partition_bucket("user_id", 8))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
        )
    )


ROUTING = {"purchase": "billing", "error": "dlq"}  # else → default


def q_x3_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: batcher routing — per-route message counts."""
    ev = _t(spark, sf_dir, "events")
    route = F.when(F.col("event_type") == "purchase", F.lit("billing")).when(
        F.col("event_type") == "error", F.lit("dlq")
    )
    ev = P.route_by(ev, route, valid_batchers=["billing", "dlq", "default"])
    return ev.groupBy("batcher").agg(F.count(F.lit(1)).alias("n"))


def q_x4_batch_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: batch_key grouping — one group per key, aggregated."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(F.col("user_id").alias("batch_key")).agg(
        F.count(F.lit(1)).alias("n"),
        _dsum("value").alias("sum_value"),
        F.max("event_id").alias("max_id"),
    )


def q_b1_chunk_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1: size batching — floor(row_number/size) chunking per key."""
    ev = _t(spark, sf_dir, "events")
    chunked = B.chunk_by_size(ev, ["user_id"], "event_id", batch_size=100)
    return chunked.groupBy("user_id", "chunk_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


BUDGET = 1000.0


def q_b2_chunk_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2: custom splitter — cumulative-weight budget chunking."""
    ev = _t(spark, sf_dir, "events")
    chunked = B.chunk_by_budget(ev, ["user_id"], "event_id", "value", BUDGET)
    return chunked.groupBy("user_id", "chunk_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


def q_b5_handle_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5: handle_batch — the user's Python callback runs once per
    (batch_key) group, computing within-batch normalization
    (value - min) and sequence. Uses the streamed runner
    (operators/batching.py::apply_per_batch_streamed): one Arrow
    stream per partition with client-side group cuts — same one-
    DataFrame-per-batch contract as applyInPandas, ~4× less per-group
    dispatch overhead at high key cardinality."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")

    def per_batch(pdf):
        pdf = pdf.sort_values("event_id").reset_index(drop=True)
        pdf["value_minus_min"] = pdf["value"] - pdf["value"].min()
        pdf["seq"] = range(1, len(pdf) + 1)
        return pdf[["event_id", "user_id", "value_minus_min", "seq"]]

    return B.apply_per_batch_streamed(
        ev,
        ["user_id"],
        per_batch,
        "event_id long, user_id long, value_minus_min double, seq int",
    )


def q_a2_dead_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: handle_failed / DLQ — the failed branch as a dataset."""
    ev = _t(spark, sf_dir, "events")
    ev = FL.with_status(
        ev, F.col("event_type") == "error", reason="poison:error-event"
    )
    _ok, failed = FL.split_failures(ev)
    return failed.select(
        "event_id",
        F.col("status.reason").alias("reason"),
        F.col("status.stage").alias("stage"),
    )


# ---------------------------------------------------------------------------
# Relational suite (engine extensions; plain Spark, TPC-H-flavored)
# ---------------------------------------------------------------------------


def q_h1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    dp = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
            _dsum("l_extendedprice").alias("sum_base_price"),
            # exact decimal sum cast to double, NOT rounded: a scale-4
            # product sum can land on an exact 2dp half-way case where
            # Spark's HALF_UP and DuckDB's double round() split by 1
            # ulp (caught at sf1 on h7/h9 — the evt_burstiness class
            # at 2dp); the exact-decimal→double cast agrees on both
            # engines while the unscaled sum stays below 2^53 (~9e11
            # in value units at scale 4 — holds through sf1 with wide
            # margin): above that, Spark's single BigDecimal→double
            # rounding vs DuckDB's hugeint→double-then-divide double
            # rounding can split by 1 ulp
            F.sum(dp).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_h3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    dp = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"))
        .agg(F.sum(dp).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def q_h6_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * F.col(
        "l_discount"
    ).cast("decimal(18,2)")
    return (
        li.filter(
            (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(rev).cast("double").alias("revenue"), F.count(F.lit(1)).alias("n"))
    )


def q_w1_window_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


def q_w2_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time window aggregate (streaming-shaped,
    run in batch: identical results by our batch/stream equivalence)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").alias("w"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), _dsum("value").alias("sum_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH").alias("hour"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def q_d1_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n"),
    )


def q_set1_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set ops: users who viewed but never purchased (anti-join form —
    the scalable EXCEPT)."""
    ev = _t(spark, sf_dir, "events")
    viewers = ev.filter(F.col("event_type") == "view").select("user_id").distinct()
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    return viewers.join(buyers, "user_id", "left_anti").agg(
        F.count(F.lit(1)).alias("n_view_only_users")
    )


# ---------------------------------------------------------------------------
# Dedup / similarity / text (scale extensions)
# ---------------------------------------------------------------------------

MINHASH_NUM = 16
MINHASH_BANDS = 4
MINHASH_K = 3
MINHASH_THRESHOLD = 0.2
SIMHASH_BITS = 32
SIMHASH_SEED = 99
NEARDUP_COS = 0.35
# SemDeDup blocking: k-means clusters bound the within-block quadratic
# (16 clusters over this corpus ≈ tens of vectors per block at the gate
# scales; at 100 TB k grows with n so the largest block stays bounded).
SEMDEDUP_K = 16
ANN_K = 5
ANN_NQUERY = 5
# PQ config swept in-engine (BASELINE.md r5 notes): m=8/short=50 →
# recall 0.76; m=16/short=100 → 0.92 — finer subspaces buy more than
# extra codebook entries on this corpus.
PQ_M = 16  # subspaces (dim 64 → 4 components each)
PQ_CODES = 16  # codebook entries per subspace
PQ_SHORTLIST = 100  # ADC candidates re-ranked with the exact cosine
# Lloyd rounds refining the sampled codebook (r6): per-subspace integer
# k-means, mirrored CTE-for-CTE in the oracle. Swept in-engine
# (BASELINE.md r6 notes): recall at sf0.01 0.92/1.0/1.0/1.0 for
# 0/1/2/3 rounds; at sf0.1 0.84/0.88/0.92/0.96 — 3 rounds clears the
# 0.95 bar at 10x the gate scale for ~0.5 s extra warm wall.
PQ_TRAIN_ITERS = 3


def q_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return D.fingerprint_dedup(docs, "text", "doc_id")


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(
        docs,
        "doc_id",
        "text",
        num_hashes=MINHASH_NUM,
        bands=MINHASH_BANDS,
        threshold=MINHASH_THRESHOLD,
        shingle_k=MINHASH_K,
    )


def q_dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (ingest-vs-archive) NEAR-dedup — the asymmetric
    complement of `dedup_incremental`'s exact-fingerprint anti-join:
    every doc_id ≡ 0 (mod 10) plays the incoming batch, the rest the
    existing corpus, and
    ``D.incremental_lsh_matches`` band-joins NEW against CORPUS only.
    Corpus×corpus pairs are never generated, so the daily cost is
    O(|new|·bands + collisions) no matter how large the archive —
    and in production the corpus's banded signatures are a
    precomputed index. (New×new dups are intra-batch dedup's job — a
    separate, batch-sized pass.) Oracle: the symmetric pair oracle
    restricted to mixed pairs, reoriented new→corpus."""
    docs = _t(spark, sf_dir, "documents")
    new = docs.where(F.col("doc_id") % 10 == 0)
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    return D.incremental_lsh_matches(
        new,
        corpus,
        "doc_id",
        "text",
        num_hashes=MINHASH_NUM,
        bands=MINHASH_BANDS,
        threshold=MINHASH_THRESHOLD,
        shingle_k=MINHASH_K,
    )


ARCHIVE_RUN_MOD = 3  # ingest-run label: doc_id mod 3
ARCHIVE_REINGEST_MOD = 5  # docs re-ingested in the newest run
ARCHIVE_MIN_RUN = 1  # retention horizon: run 0 has aged out


def q_dedup_archive_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-RUN LSH ARCHIVE COMPACTION (r10 verdict breadth item):
    the maintenance pass that keeps the incremental-dedup index
    bounded — expire banded entries older than the retention horizon,
    merge re-ingested documents' duplicate (id, band) entries down to
    the newest run (operators/dedup.compact_lsh_archive). The ingest
    log is simulated deterministically: run = doc_id mod 3, docs with
    doc_id mod 5 = 0 re-ingested under run 2; retention keeps runs
    ≥ 1. Output: the per-band compaction report (entries before /
    expired / merged / after, surviving docs, bucket count, largest
    bucket) — the stats an index-maintenance job logs.

    Scale shape: signatures computed once per distinct doc, entries
    join on id, the merge is one (id, band) hash aggregate, reports
    are tiny rollups — compaction never generates a candidate pair,
    so its cost is O(archive), not O(archive²)."""
    docs = _t(spark, sf_dir, "documents")
    log = docs.select(
        "doc_id",
        "text",
        (F.col("doc_id") % ARCHIVE_RUN_MOD).cast("int").alias("run"),
    ).unionAll(
        docs.filter(F.col("doc_id") % ARCHIVE_REINGEST_MOD == 0).select(
            "doc_id",
            "text",
            F.lit(ARCHIVE_RUN_MOD - 1).cast("int").alias("run"),
        )
    )
    # the operator's internals, re-staged here so before/after stats
    # share ONE banded build (the operator itself returns only the
    # compacted archive)
    uniq = log.select("doc_id", "text").distinct()
    banded = materialize(
        D._banded_keys(
            T.shingle_table(uniq, "doc_id", "text", MINHASH_K),
            MINHASH_NUM,
            MINHASH_BANDS,
        ),
        "archive_banded",
    )
    entries = (
        log.select(F.col("doc_id").alias("__id"), "run")
        .join(banded, "__id")
        .withColumn(
            "band_id",
            F.split(F.col("__band"), "-").getItem(0).cast("int"),
        )
    )
    kept = entries.filter(F.col("run") >= ARCHIVE_MIN_RUN)
    compacted = kept.groupBy("__id", "__band", "band_id").agg(
        F.max("run").alias("run")
    )
    before = entries.groupBy("band_id").agg(
        F.count(F.lit(1)).alias("n_before"),
        F.sum(
            (F.col("run") < ARCHIVE_MIN_RUN).cast("long")
        ).alias("n_expired"),
    )
    after = compacted.groupBy("band_id").agg(
        F.count(F.lit(1)).alias("n_after"),
        F.countDistinct("__id").alias("n_docs"),
        F.countDistinct("__band").alias("n_buckets"),
    )
    buckets = (
        compacted.groupBy("band_id", "__band")
        .agg(F.count(F.lit(1)).alias("__bn"))
        .groupBy("band_id")
        .agg(F.max("__bn").alias("max_bucket"))
    )
    return (
        before.join(after, "band_id")
        .join(buckets, "band_id")
        .select(
            "band_id",
            "n_before",
            "n_expired",
            (
                F.col("n_before") - F.col("n_expired") - F.col("n_after")
            ).alias("n_merged"),
            "n_after",
            "n_docs",
            "n_buckets",
            "max_bucket",
        )
    )


REL_TOPK_K = 7


def q_rel_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT TOP-K PER GROUP over a LOW-cardinality group domain
    (operators/ranking.topk_per_group — r10 verdict breadth item):
    the 7 highest-value lineitems per (returnflag, linestatus) — SIX
    groups over the whole fact table, exactly the shape where a rank
    window funnels everything through 6 tasks and Catalyst's
    WindowGroupLimit cannot save a dynamic quota. The rank rides the
    distributed prefix-sum core; the plan's corpus-wide window
    partitions on (__cb_pid, flag, status), never the flags alone."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        "l_orderkey",
        "l_linenumber",
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
    )
    top = RK.topk_per_group(
        li,
        ["l_returnflag", "l_linestatus"],
        [
            F.col("price").desc(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
        ],
        REL_TOPK_K,
    )
    return top.select(
        "l_returnflag",
        "l_linestatus",
        F.col("rank").cast("int").alias("rank"),
        "l_orderkey",
        "l_linenumber",
        F.col("price").cast("double").alias("price"),
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return D.simhash_table(
        docs, "doc_id", "text", bits=SIMHASH_BITS, seed=SIMHASH_SEED
    ).select(F.col("__id").alias("doc_id"), "simhash")


SIMHASH_PAIR_BANDS = 4  # 8-bit bands over the 32-bit signature
SIMHASH_PAIR_MAXHAM = 3  # ≤ bands-1, so pigeonhole guarantees recall


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS via Manku/Jain/Das Sarma (WWW'07) band
    blocking: split the 32-bit signature into 4 exact-match 8-bit
    bands — any pair within Hamming distance 3 differs in ≤3 bands,
    so by pigeonhole at least one band matches exactly and the
    band equi-join has ZERO false negatives (the oracle is the
    all-pairs ground truth, not the blocking). Candidates verify with
    bit_count(xor). O(n·bands) shuffle, never all-pairs — the
    billion-page formulation from the paper. Bands are integer
    DIV/% arithmetic, engine-portable."""
    docs = _t(spark, sf_dir, "documents")
    sh = D.simhash_table(
        docs, "doc_id", "text", bits=SIMHASH_BITS, seed=SIMHASH_SEED
    )
    width = SIMHASH_BITS // SIMHASH_PAIR_BANDS
    bands = sh.select(
        "__id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        "-",
                        F.lit(str(b)),
                        F.expr(
                            f"CAST((simhash DIV {1 << (b * width)})"
                            f" % {1 << width} AS STRING)"
                        ),
                    )
                    for b in range(SIMHASH_PAIR_BANDS)
                ]
            )
        ).alias("__band"),
    )
    left = bands.select(
        F.col("__id").alias("id_a"),
        F.col("simhash").alias("sh_a"),
        "__band",
    )
    right = bands.select(
        F.col("__id").alias("id_b"),
        F.col("simhash").alias("sh_b"),
        "__band",
    )
    cand = (
        left.join(right, "__band")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    return cand.select(
        "id_a",
        "id_b",
        D.hamming_distance("sh_a", "sh_b").cast("bigint").alias("hamming"),
    ).where(F.col("hamming") <= SIMHASH_PAIR_MAXHAM)


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return D.embedding_near_duplicates(
        emb, "vec_id", "embedding", "label", threshold=NEARDUP_COS
    )


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space first (deterministic integer k-means,
    operators/similarity.py::kmeans_assignments), then search for
    cosine near-duplicates only WITHIN a cluster and drop every member
    that has a lower-id near-duplicate neighbor (the star keeper rule
    of dedup_clusters, applied per cluster).

    Composition of two audited pieces: the Lloyd's recurrence shared
    with emb_kmeans and the pair generator shared with dedup_embedding
    — the only new semantics is cluster-id-as-blocking-key. 100 TB
    shape: the quadratic is bounded by the largest CLUSTER, not the
    corpus (k scales with n), assignment is broadcast-join + two
    shuffles per Lloyd round, and the verdict join shuffles only
    removed ids. Returns one row per vector: (vec_id, cluster_id,
    kept) — the keep/drop verdict a curation pipeline consumes.
    """
    emb = _t(spark, sf_dir, "embeddings")
    assign = S.kmeans_assignments(
        emb, "vec_id", "embedding", k=SEMDEDUP_K, iterations=KMEANS_ITERS
    ).select("vec_id", "cluster_id")
    clustered = emb.join(assign, "vec_id")
    pairs = D.embedding_near_duplicates(
        clustered, "vec_id", "embedding", "cluster_id", threshold=NEARDUP_COS
    )
    removed = (
        pairs.select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("__rm", F.lit(1))
    )
    return clustered.join(removed, "vec_id", "left").select(
        "vec_id",
        "cluster_id",
        F.when(F.col("__rm").isNull(), 1).otherwise(0).alias("kept"),
    )


def q_sim_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < ANN_NQUERY)
    return S.ann_bruteforce_topk(emb, queries, "vec_id", "embedding", k=ANN_K)


def q_sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with exact re-rank (Jégou TPAMI'11):
    integer-exact subspace codebooks extend emb_quantize_int8's
    micro-unit machinery; ADC shortlist then exact-cosine top-k. See
    operators/similarity.py::ann_pq_topk for the determinism contract
    and 100 TB shape (n·m one-byte-ish codes ≈ 32× compression; no
    cross join; shortlist bounds exact work)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < ANN_NQUERY)
    return S.ann_pq_topk(
        emb,
        queries,
        "vec_id",
        "embedding",
        k=ANN_K,
        m=PQ_M,
        dim=64,
        num_codes=PQ_CODES,
        shortlist=PQ_SHORTLIST,
        train_iters=PQ_TRAIN_ITERS,
    )


def q_sim_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ recall measured in-engine against the exact brute-force
    top-k (the same audit pattern as dedup_lsh_recall): recall =
    |PQ∩BF| / |BF|. The SRP-LSH path measured 0.48 at 4 planes /
    5 probes; the PQ+re-rank path must beat it (shortlist
    PQ_SHORTLIST ≫ k — see the constants comment for the sweep)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < ANN_NQUERY)
    bf = S.ann_bruteforce_topk(emb, queries, "vec_id", "embedding", k=ANN_K)
    pq = S.ann_pq_topk(
        emb,
        queries,
        "vec_id",
        "embedding",
        k=ANN_K,
        m=PQ_M,
        dim=64,
        num_codes=PQ_CODES,
        shortlist=PQ_SHORTLIST,
        train_iters=PQ_TRAIN_ITERS,
    )
    found = bf.select("query_id", "neighbor_id").join(
        pq.select("query_id", "neighbor_id").withColumn("__f", F.lit(1)),
        ["query_id", "neighbor_id"],
        "left",
    )
    return found.agg(
        F.count(F.lit(1)).alias("n_true"),
        F.sum(F.coalesce(F.col("__f"), F.lit(0)))
        .cast("long")
        .alias("n_found"),
        # count/count → exact integer ppm, not round(,6) (half-way class)
        X.ratio_ppm(
            F.sum(F.coalesce(F.col("__f"), F.lit(0))), F.count(F.lit(1))
        ).alias("recall_ppm"),
    )


def _ivfpq_kwargs() -> dict:
    """One shared config for the IVF-PQ pair (query + recall audit):
    the IVF coarse knobs from sim_ann_ivf and the PQ knobs from
    sim_ann_pq, unchanged — the point of the composition is measuring
    what cell pruning costs at the SAME code budget."""
    return dict(
        k=ANN_K,
        m=PQ_M,
        dim=64,
        num_codes=PQ_CODES,
        shortlist=PQ_SHORTLIST,
        train_iters=PQ_TRAIN_ITERS,
        num_centroids=IVF_NCENT,
        nprobe=IVF_NPROBE,
    )


def q_sim_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN — the production composition (FAISS-style inverted
    lists of PQ codes, by_residual=false): coarse cells prune the
    candidate set ~IVF_NCENT/IVF_NPROBE-fold BEFORE any ADC work, the
    compressed code index scores only probed-cell candidates, exact
    cosine re-ranks the shortlist. See
    operators/similarity.py::ann_ivfpq_topk for the 100 TB shape;
    recall vs brute force is audited by sim_ivfpq_recall."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < ANN_NQUERY)
    return S.ann_ivfpq_topk(
        emb, queries, "vec_id", "embedding", **_ivfpq_kwargs()
    )


def q_sim_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ recall measured in-engine against the exact brute-force
    top-k (the sim_pq_recall audit pattern). The delta vs
    sim_pq_recall's figure is exactly the cost of probing
    IVF_NPROBE of IVF_NCENT cells — the recall/candidate-volume trade
    a production deployment tunes with nprobe."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < ANN_NQUERY)
    bf = S.ann_bruteforce_topk(emb, queries, "vec_id", "embedding", k=ANN_K)
    ivfpq = S.ann_ivfpq_topk(
        emb, queries, "vec_id", "embedding", **_ivfpq_kwargs()
    )
    found = bf.select("query_id", "neighbor_id").join(
        ivfpq.select("query_id", "neighbor_id").withColumn("__f", F.lit(1)),
        ["query_id", "neighbor_id"],
        "left",
    )
    return found.agg(
        F.count(F.lit(1)).alias("n_true"),
        F.sum(F.coalesce(F.col("__f"), F.lit(0)))
        .cast("long")
        .alias("n_found"),
        # count/count → exact integer ppm (half-way class)
        X.ratio_ppm(
            F.sum(F.coalesce(F.col("__f"), F.lit(0))), F.count(F.lit(1))
        ).alias("recall_ppm"),
    )


def q_text_surprisal_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document BIGRAM-LM surprisal in exact integer bits — the
    conditional-probability upgrade of text_surprisal (unigram): each
    bigram instance (w1 w2) contributes
    length(bin(count(w1 ·) DIV count(w1 w2))) — an exact integer log2
    surrogate for -log P(w2 | w1) under the corpus bigram model. This
    is the CCNet-style LM-perplexity quality filter in the repo's
    all-integer parity formulation (order-independent, bit-identical
    across engines — no libm).

    Scale shape: the shared lead-window bigram gather (one keyed
    shuffle), two corpus-frequency aggregates (map-side partials on
    the bigram / prev-token keys), two equi-joins back, one per-doc
    sum. Text never shuffles; everything after the gather carries
    (doc_id, gram, count) rows only."""
    docs = _t(spark, sf_dir, "documents")
    bg = T.shingle_instances(docs, "doc_id", "text", 2)
    bfreq = bg.groupBy("__sh").agg(F.count(F.lit(1)).alias("__cbg"))
    prev = F.substring_index(F.col("__sh"), " ", 1)
    pfreq = bg.select(prev.alias("__prev")).groupBy("__prev").agg(
        F.count(F.lit(1)).alias("__cprev")
    )
    inst = (
        bg.join(bfreq, "__sh")
        .withColumn("__prev", prev)
        .join(pfreq, "__prev")
    )
    bits = F.length(F.bin(F.expr("__cprev DIV __cbg")))
    return inst.groupBy(F.col("__id").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum(bits).cast("long").alias("bigram_bits"),
    )


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.token_count("text").alias("n_tokens"),
        T.bpe_ish_token_count("text").alias("n_bpe_tokens"),
        # exact integer-ppm composite — no published double (r12
        # verdict item 2; the allowlist entry this retires)
        T.quality_ppm("text").alias("quality_ppm"),
    )


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(T.language_id("text").alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID evaluation: confusion matrix of the n-gram
    classifier's prediction against the corpus's labeled ``lang``
    column, one row per (lang, lang_pred) cell with the cell count and
    its integer-ppm share of the true language's rows (the per-class
    recall decomposition a model-eval report prints). The matrix is at
    most |langs|² rows, so everything after the first partial-agg
    shuffle — the window sum per true language — is free; at 100 TB
    the corpus is scanned once and only (lang, lang_pred, count) pairs
    ever shuffle. Integer DIV keeps the shares engine-exact (no
    float-boundary flips at any scale)."""
    docs = _t(spark, sf_dir, "documents")
    cells = (
        docs.select("lang", T.language_id("text").alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    w = Window.partitionBy("lang")
    return (
        cells.withColumn("__tot", F.sum("n").over(w))
        .select(
            "lang",
            "lang_pred",
            "n",
            # DECIMAL(38,0) ppm numerator: n·1e6 in BIGINT wraps once
            # the counted population passes 9.2e12 rows — widen BEFORE
            # the multiply (r9 overflow sweep).
            F.expr(
                "CAST((n * CAST(1000000 AS DECIMAL(38,0))) DIV __tot"
                " AS BIGINT)"
            ).alias("recall_ppm"),
        )
    )


def q_text_annotator_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHEN'S KAPPA between the corpus's labeled ``lang`` and the
    n-gram classifier's prediction — the chance-corrected agreement
    statistic a labeling/QA pipeline reports before trusting weak
    labels (r13 breadth: label-noise audit; text_lang_confusion gives
    the per-cell decomposition, this gives the headline number).

    Exact integer formulation: with N docs, D = Σ diagonal cells,
    S = Σ_i row_i·col_i (marginal products),
    po = D/N, pe = S/N², and

        kappa = (po − pe)/(1 − pe) = (N·D − S)/(N² − S)

    — a ratio of exact integers, published as BIGINT ppm (the numeric
    policy; no double path exists). N² and the marginal products
    widen to DECIMAL(38,0) INSIDE the arithmetic: exact until
    N ~ 10¹⁶ docs (the HUGEINT twin matches). A single-class
    degenerate corpus makes the denominator 0 → NULL (div_trunc's
    NULL-on-zero, same as DuckDB's //).

    Scale shape: one corpus scan into a (lang, lang_pred) partial-agg
    shuffle; everything after operates on the ≤|langs|² cell table —
    marginals, diagonal, and the scalar kappa are all sub-kilobyte
    broadcast work regardless of corpus size."""
    docs = _t(spark, sf_dir, "documents")
    cells = (
        docs.select("lang", T.language_id("text").alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    cells = materialize(cells, "kappa_cells")
    rows = cells.groupBy(F.col("lang").alias("lab")).agg(
        F.sum("n").alias("row_n")
    )
    colsum = cells.groupBy(F.col("lang_pred").alias("lab")).agg(
        F.sum("n").alias("col_n")
    )
    # full outer on the label set: a label seen only as truth (or only
    # as prediction) contributes row·0 or 0·col = 0, but must not drop
    marg = (
        rows.join(colsum, "lab", "full_outer")
        .select(
            (
                F.coalesce(F.col("row_n"), F.lit(0)).cast("decimal(38,0)")
                * F.coalesce(F.col("col_n"), F.lit(0)).cast("decimal(38,0)")
            ).alias("rc")
        )
        .agg(F.sum("rc").alias("s"))
    )
    diag = cells.agg(
        F.sum(F.when(F.col("lang") == F.col("lang_pred"), F.col("n"))
              .otherwise(F.lit(0))).alias("d"),
        F.sum("n").alias("n_docs"),
    )
    nn = F.col("n_docs").cast("decimal(38,0)")
    return (
        diag.crossJoin(F.broadcast(marg))
        .select(
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("d").cast("long").alias("n_agree"),
            X.ratio_ppm(F.col("d"), F.col("n_docs")).alias("po_ppm"),
            X.ratio_ppm(F.col("s"), nn * nn).alias("pe_ppm"),
            X.ratio_ppm(nn * F.col("d") - F.col("s"), nn * nn - F.col("s"))
            .alias("kappa_ppm"),
        )
    )


DRIFT_TOKEN_BUCKETS = (50, 200, 1000)  # token-count bucket upper bounds


def q_text_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTION-DRIFT MONITOR between two corpus slices — the
    ingest-QA gate that catches a new crawl whose language or length
    mix shifted before it trains a model (r13 breadth). Even doc_ids
    play the reference corpus, odd the candidate batch; categories are
    (lang × token-count bucket). Per category: both counts, both
    shares in exact integer ppm, and |Δshare| — the summands of the
    total-variation distance TV = ½·Σ|p_i − q_i| (the drift statistic
    with an exact rational form; χ² needs count SQUARES that overflow
    128-bit integers at planetary scale, TV does not). Shares are
    count·1e6 DIV slice_total on DECIMAL(38,0) — exact at any corpus
    size within 10³² rows, no double anywhere.

    Scale shape: one scan into a (slice, lang, bucket) partial-agg
    shuffle; slice totals are a 2-row broadcast; the category table is
    |langs|·|buckets| rows — all post-shuffle work is constant-size
    regardless of corpus volume."""
    docs = _t(spark, sf_dir, "documents")
    b1, b2, b3 = DRIFT_TOKEN_BUCKETS
    nt = T.token_count("text")
    bucket = (
        F.when(nt < b1, F.lit(f"lt{b1}"))
        .when(nt < b2, F.lit(f"lt{b2}"))
        .when(nt < b3, F.lit(f"lt{b3}"))
        .otherwise(F.lit(f"ge{b3}"))
    )
    sliced = docs.select(
        (F.col("doc_id") % 2 == 0).alias("is_ref"),
        "lang",
        bucket.alias("bucket"),
    )
    cells = sliced.groupBy("lang", "bucket").agg(
        F.sum(F.col("is_ref").cast("long")).alias("n_ref"),
        F.sum((~F.col("is_ref")).cast("long")).alias("n_cand"),
    )
    tot = cells.agg(
        F.sum("n_ref").alias("tot_ref"), F.sum("n_cand").alias("tot_cand")
    )
    share_ref = X.ratio_ppm(F.col("n_ref"), F.col("tot_ref"))
    share_cand = X.ratio_ppm(F.col("n_cand"), F.col("tot_cand"))
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "bucket",
            "n_ref",
            "n_cand",
            share_ref.alias("share_ref_ppm"),
            share_cand.alias("share_cand_ppm"),
            F.abs(share_ref - share_cand).alias("abs_delta_ppm"),
        )
    )


def q_sim_ivfpq_index_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF-PQ index maintenance
    (operators/similarity.ivfpq_index_merge — r12 breadth, the ANN
    mirror of r11's LSH archive compaction): vectors with
    vec_id ≡ 0 (mod 10) play the incoming batch, the rest the
    existing index. Coarse centroids and PQ codebooks are FROZEN from
    the archive; the merge assigns + encodes only the new batch
    (O(|new|)), and the per-cell codebook-drift audit — exact BIGINT
    reconstruction errors, drift as integer ppm — is the signal that
    schedules a retrain. Oracle: the same frozen-archive training and
    assignment CTE-for-dataframe."""
    emb = _t(spark, sf_dir, "embeddings")
    new = emb.where(F.col("vec_id") % 10 == 0)
    archive = emb.where(F.col("vec_id") % 10 != 0)
    return S.ivfpq_index_merge(
        archive,
        new,
        "vec_id",
        "embedding",
        m=PQ_M,
        dim=64,
        num_codes=PQ_CODES,
        train_iters=PQ_TRAIN_ITERS,
        num_centroids=IVF_NCENT,
    )


def q_text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-20 bigrams by PMI-style lift —
    ``n_ab·N / (n_a·n_b)``, the observed-over-expected ratio under
    token independence (Church & Hanks 1990's association measure,
    ratio form so both engines stay in exact integer counts until ONE
    rounded division). Scale shape: the shared lead-window bigram
    gather (text never shuffles after tokenization), two partial-agg
    shuffles (bigram + unigram counts), two equi-joins of the count
    table against the vocabulary (≪ corpus — AQE broadcasts), a
    broadcast 1-row token total, and a top-k window over the filtered
    count table only."""
    docs = _t(spark, sf_dir, "documents")
    inst = T.shingle_instances(docs, "doc_id", "text", 2).filter(
        F.col("__sh").like("% %")
    )
    bgc = inst.groupBy(F.col("__sh").alias("bigram")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ab")
    )
    # The vocabulary count table feeds THREE consumers (both join
    # sides and the token total) — materialize it once so the corpus
    # is tokenized for unigrams exactly once, not per branch.
    uni = materialize(
        docs.select(F.explode(T.tokens("text")).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_t")),
        "colloc_uni",
    )
    # Token total = Σ unigram counts: a 1-row aggregate over the VOCAB
    # table, not a third corpus scan.
    tot = uni.agg(F.sum("n_t").cast("bigint").alias("n_total"))
    # n_ab·N/(n_a·n_b) is a ratio of integer counts → exact integer
    # ppm (functions/exact.py), never round(,6) — the half-way class
    lift = X.ratio_ppm(
        F.col("n_ab").cast("decimal(38,0)")
        * F.col("n_total").cast("decimal(38,0)"),
        F.col("n_a").cast("decimal(38,0)") * F.col("n_b").cast("decimal(38,0)"),
    )
    scored = (
        bgc.withColumn("__t1", F.expr("split_part(bigram, ' ', 1)"))
        .withColumn("__t2", F.expr("split_part(bigram, ' ', 2)"))
        .join(
            uni.select(F.col("t").alias("__t1"), F.col("n_t").alias("n_a")),
            "__t1",
        )
        .join(
            uni.select(F.col("t").alias("__t2"), F.col("n_t").alias("n_b")),
            "__t2",
        )
        .crossJoin(F.broadcast(tot))
        .select("bigram", "n_ab", "n_a", "n_b", lift.alias("lift_ppm"))
    )
    wtop = Window.orderBy(F.col("lift_ppm").desc(), F.col("bigram").asc())
    return (
        scored.withColumn("rk", F.row_number().over(wtop))
        .where(F.col("rk") <= 20)
        .select("bigram", "n_ab", "n_a", "n_b", "lift_ppm", "rk")
    )


# Denylist scrubbing: the blocklist-redaction pass of a curation
# pipeline (PII/sensitive-term scrub). The synthetic corpus has no
# digits/emails, so the denylist is drawn from its own vocabulary —
# the regex/replace/verify plumbing is identical to a real PII pass.
REDACT_PATTERN = r"\b(customer|spark|value)\b"
REDACT_TOKEN = "<redacted>"


def q_pipeline_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source denylist-redaction report: docs touched, spans
    scrubbed, integer-ppm of tokens redacted, and a bit_xor integrity
    hash of the REDACTED text (proves the replacement text, not just
    the counts, is identical on both engines — the audit a scrub job
    must emit before the redacted corpus ships). ONE corpus scan, all
    regex work codegen (regexp_count/regexp_replace), one partial-agg
    shuffle on source; xor is order-independent so the hash is stable
    under any partitioning."""
    docs = _t(spark, sf_dir, "documents")
    per = docs.select(
        "source",
        F.regexp_count(F.col("text"), F.lit(REDACT_PATTERN))
        .cast("bigint")
        .alias("__spans"),
        T.token_count("text").cast("bigint").alias("__toks"),
        H.portable_hash(
            F.regexp_replace(F.col("text"), REDACT_PATTERN, REDACT_TOKEN)
        ).alias("__h"),
    )
    return (
        per.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("__spans") > 0).cast("int"))
            .cast("bigint")
            .alias("docs_touched"),
            F.sum("__spans").alias("spans_total"),
            F.sum("__toks").alias("tokens_total"),
            F.expr("bit_xor(__h)").alias("redacted_xor"),
        )
        .withColumn(
            "redacted_ppm",
            # DECIMAL(38,0) before the ·1e6 multiply: spans_total is an
            # unbounded corpus aggregate (r9 overflow sweep).
            F.expr(
                "CAST((spans_total * CAST(1000000 AS DECIMAL(38,0)))"
                " DIV tokens_total AS BIGINT)"
            ),
        )
    )


def q_j4_fuzzy_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy join (entity resolution): part-name pairs within
    Levenshtein distance 3, blocked on the head token so the edit
    distance runs only inside small candidate blocks — the standard
    ER blocking design (Christen 2012), never all-pairs. Scale shape:
    names are DISTINCT-aggregated first (vocabulary ≪ rows, one
    partial-agg shuffle), the self-join keys on the block token
    (AQE-skew-eligible equi-join), and `a.name < b.name` halves the
    candidate set before the distance filter."""
    from broadway_spark.operators import fuzzy as FZ

    part = _t(spark, sf_dir, "part")
    names = part.groupBy(F.col("p_name").alias("name")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts")
    )
    a = names.select(
        F.col("name").alias("name_a"), F.col("n_parts").alias("n_a")
    )
    b = names.select(
        F.col("name").alias("name_b"), F.col("n_parts").alias("n_b")
    )
    return FZ.blocked_fuzzy_join(
        a, b, "name_a", "name_b", max_dist=3, self_dedup=True
    ).select("name_a", "name_b", "n_a", "n_b", "dist")


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", H.fingerprint("text").alias("fp"))


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup as deterministic keeper-aggregate on the raw text."""
    docs = _t(spark, sf_dir, "documents")
    return D.exact_dedup_stats(docs, ["text"], "doc_id").select(
        "keeper_id", "n_copies"
    )


PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\d{3}-\d{3}-\d{4}"
PII_IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def q_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII DETECTION + REDACTION AUDIT (r10 — the scrub every
    training-data pipeline runs before release): per source, how many
    emails / dashed phone numbers / IPv4 literals were found, how many
    docs carried any, and the decimal-exact char volume before/after
    redaction. The synthetic corpus is word-salad with no digits, so
    PII is INJECTED deterministically from doc_id (the edge-family
    discipline: both engines construct byte-identical text with a
    CASE, so the regex machinery — not the data — is what's under
    test): doc_id%7==0 gains an email, %11==0 a phone, %13==0 an IP.

    Cross-engine regex contract: patterns are restricted to the
    class/quantifier/word-boundary subset Java regex (Spark codegen)
    and RE2 (DuckDB) match identically; counts via regexp_count vs
    length(regexp_extract_all); redaction via chained regexp_replace
    in the same order (email → phone → IP).

    Scale shape: pure per-row codegen expressions + one partial-agg
    shuffle keyed by source. Nothing leaves the row until the
    aggregate; redacted text is never shuffled, only its length."""
    d = F.col("doc_id")
    email = F.concat(
        F.lit(" contact user"), d.cast("string"), F.lit("@example.com")
    )
    phone = F.concat(
        F.lit(" call 555-"),
        F.lpad((d % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((d % 10000).cast("string"), 4, "0"),
    )
    ip = F.concat(
        F.lit(" from 10."),
        (d % 256).cast("string"),
        F.lit("."),
        ((d / 256).cast("long") % 256).cast("string"),
        F.lit("."),
        ((d / 65536).cast("long") % 256).cast("string"),
    )
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.concat(
            F.col("text"),
            F.when(d % 7 == 0, email).otherwise(F.lit("")),
            F.when(d % 11 == 0, phone).otherwise(F.lit("")),
            F.when(d % 13 == 0, ip).otherwise(F.lit("")),
        ).alias("txt"),
    )
    counted = docs.select(
        "source",
        F.length("txt").alias("raw_len"),
        F.regexp_count("txt", F.lit(PII_EMAIL_RE)).alias("n_email"),
        F.regexp_count("txt", F.lit(PII_PHONE_RE)).alias("n_phone"),
        F.regexp_count("txt", F.lit(PII_IP_RE)).alias("n_ip"),
        F.length(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(
                        F.col("txt"), PII_EMAIL_RE, "<EMAIL>"
                    ),
                    PII_PHONE_RE,
                    "<PHONE>",
                ),
                PII_IP_RE,
                "<IP>",
            )
        ).alias("red_len"),
    )
    return counted.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_email").cast("long")).alias("emails"),
        F.sum(F.col("n_phone").cast("long")).alias("phones"),
        F.sum(F.col("n_ip").cast("long")).alias("ips"),
        F.sum(
            ((F.col("n_email") + F.col("n_phone") + F.col("n_ip")) > 0)
            .cast("long")
        ).alias("docs_with_pii"),
        # widen inside the sums (r9 overflow rule: unbounded doc count)
        F.sum(F.col("raw_len").cast("decimal(38,0)"))
        .cast("long")
        .alias("raw_chars"),
        F.sum(F.col("red_len").cast("decimal(38,0)"))
        .cast("long")
        .alias("redacted_chars"),
    )


def q_text_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (SIGMOD'03 MOSS): the partial-
    copy detector of the text-fingerprinting family — distinct
    window-min k-gram hashes per doc, exploded to (doc_id, fp) rows.
    Per-row linear HOF expression, no shuffle before the explode."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.explode(T.winnow_fingerprints("text")).alias("fp"),
    )


CORPUS_MIN_QUALITY = 0.6
CORPUS_MIN_TOKENS = 20
CORPUS_MAX_TOKENS = 5000


def q_pipeline_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus cleaning — the LLM-pipeline composite:
    language-ID + quality floor + token budget → exact-dedup keeper →
    per-language corpus stats.

    Scale shape: one projection (codegen'd scalar library), one filter,
    then two partial-agg shuffles. The dedup groupBy keys on the md5
    fingerprint, so the shuffle carries 32-char digests — never the
    document text; quality is the exact integer-ppm composite
    end-to-end (functions/text.quality_ppm — no double anywhere, r12
    verdict item 2), so the quality gate and the mean are bit-identical
    across engines at any scale."""
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        T.language_id("text").alias("lang_pred"),
        T.token_count("text").alias("n_tokens"),
        T.quality_ppm("text").alias("quality_micro"),
        H.fingerprint("text").alias("fp"),
    )
    kept = scored.filter(
        # floor(1e6·q) >= t·1e6  <=>  q >= t — EXACT thresholding on
        # the integer composite, no float boundary anywhere
        (F.col("quality_micro") >= F.lit(X.ppm(CORPUS_MIN_QUALITY)))
        & F.col("n_tokens").between(CORPUS_MIN_TOKENS, CORPUS_MAX_TOKENS)
    )
    keepers = kept.groupBy("fp").agg(
        F.min("doc_id").alias("keeper_id"),
        F.min("lang_pred").alias("lang_pred"),
        F.min("n_tokens").alias("n_tokens"),
        F.min("quality_micro").alias("quality_micro"),
    )
    return keepers.groupBy("lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        # micro-int sum / count IS the quality mean in ppm already —
        # exact integer DIV, not the round(,6) half-way class
        X.div_trunc(F.sum("quality_micro"), F.count(F.lit(1))).alias(
            "avg_quality_ppm"
        ),
    )


JACCARD_PAIR_THRESHOLD = 0.5


def q_pipeline_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation funnel report: how many documents survive each stage of
    the standard training-data cleaning chain — quality floor → token
    budget → exact dedup (fingerprint keeper) → near-dedup (exact
    Jaccard ≥ threshold within (lang, source), lowest-id keeper). One
    row per stage: (stage, stage_name, n_in, n_out) — the yield table a
    curation run publishes so a drop in corpus size is attributable to
    a stage, not discovered after training.

    Stages are SEQUENTIAL (each consumes the previous survivors), but
    the per-doc gate flags compose as ANDed codegen expressions over a
    single corpus projection, so stages 1-2 cost one scan. The exact
    keeper is a fingerprint-partitioned row_number (one shuffle of
    digests); the near-dup stage reuses the prefix-filtered Jaccard
    pair generator (no quadratic blocks — Bayardo WWW'07 bound) over
    the surviving slice only; the final counts are 1-row aggregates
    assembled by broadcast cross join and unpivoted with stack(). At
    100 TB every shuffle carries ids/digests/flags, never text.
    """
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        "source",
        F.array_distinct(F.split(F.lower("text"), " ")).alias("toks"),
        T.quality_ppm("text").alias("quality_ppm"),
        T.token_count("text").alias("n_tokens"),
        H.fingerprint("text").alias("fp"),
    )
    q_ok = F.col("quality_ppm") >= F.lit(X.ppm(CORPUS_MIN_QUALITY))
    b_ok = q_ok & F.col("n_tokens").between(
        CORPUS_MIN_TOKENS, CORPUS_MAX_TOKENS
    )
    flagged = scored.select(
        "doc_id",
        "lang",
        "source",
        "toks",
        "fp",
        q_ok.cast("int").alias("q_ok"),
        b_ok.cast("int").alias("b_ok"),
    )
    w_fp = Window.partitionBy("fp").orderBy("doc_id")
    surv3 = (
        flagged.filter(F.col("b_ok") == 1)
        .withColumn("__rn", F.row_number().over(w_fp))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    pairs = D.jaccard_pairs_prefix_filter(
        surv3.select("doc_id", "lang", "source", "toks"),
        "doc_id",
        "toks",
        JACCARD_PAIR_THRESHOLD,
        block_cols=["lang", "source"],
        # r15 (r14 verdict item 1): the blanket base barrier was this
        # query's +27% r14 regression — persisting the window-filtered
        # survivor slice costs more than the three-branch recompute it
        # saves (same-window interleaved A/B: off wins by 1.6 s).
        materialize_base=False,
    )
    removed = pairs.select("id_b").distinct()
    counts = (
        flagged.agg(
            F.count(F.lit(1)).cast("bigint").alias("n0"),
            F.sum("q_ok").cast("bigint").alias("n1"),
            F.sum("b_ok").cast("bigint").alias("n2"),
        )
        .crossJoin(
            F.broadcast(
                surv3.agg(F.count(F.lit(1)).cast("bigint").alias("n3"))
            )
        )
        .crossJoin(
            F.broadcast(
                removed.agg(F.count(F.lit(1)).cast("bigint").alias("n_rm"))
            )
        )
    )
    return counts.select(
        F.expr(
            "stack(4,"
            " 1, 'quality',      n0, n1,"
            " 2, 'token_budget', n1, n2,"
            " 3, 'exact_dedup',  n2, n3,"
            " 4, 'near_dedup',   n3, n3 - n_rm"
            ") AS (stage, stage_name, n_in, n_out)"
        )
    )


# Column-profiler spec: (column, kind) over lineitem. 'num' profiles
# min/max as rounded doubles, 'str' as raw strings, 'ts' as formatted
# timestamps — split slots so no cross-engine numeric→string
# formatting is ever compared.
PROFILE_COLS = (
    ("l_orderkey", "num"),
    ("l_quantity", "num"),
    ("l_extendedprice", "num"),
    ("l_discount", "num"),
    ("l_returnflag", "str"),
    ("l_linestatus", "str"),
    ("l_shipdate", "ts"),
)


def q_pipeline_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiler (ANALYZE/df.describe as a first-class query):
    per column — row count, nulls, exact distinct count, and typed
    min/max — the stats layer a catalog or data-quality dashboard
    reads. ONE lineitem scan computes every metric; the multi-distinct
    aggregate plans as a single Expand pass (row×|cols| map-side, one
    shuffle). At 100 TB you'd swap the exact distincts for the
    in-repo portable HLL (`functions/sketches.py`) — same shape,
    mergeable partials; exact is the oracle-checkable form."""
    li = _t(spark, sf_dir, "lineitem")
    # TWO aggregates on purpose: countDistinct plans through an Expand
    # that replicates every input row once per distinct column (8× on
    # this spec) and drags every OTHER aggregate through the expanded
    # rows when mixed in. Splitting keeps the plain metrics a single
    # un-expanded pass and the Expand narrow (key columns only) —
    # measured 15 s → ~3 s warm at sf0.1. The 1-row results crossJoin
    # back (broadcast).
    aggs: list[F.Column] = [F.count(F.lit(1)).alias("__n")]
    dist_aggs: list[F.Column] = [
        F.countDistinct(c).cast("bigint").alias(f"__nd_{c}")
        for c, _ in PROFILE_COLS
    ]
    for c, kind in PROFILE_COLS:
        aggs.append(
            F.sum(F.col(c).isNull().cast("int"))
            .cast("bigint")
            .alias(f"__null_{c}")
        )
        if kind == "num":
            aggs.append(F.round(F.min(c), 2).cast("double").alias(f"__mn_{c}"))
            aggs.append(F.round(F.max(c), 2).cast("double").alias(f"__mx_{c}"))
        elif kind == "str":
            aggs.append(F.min(c).alias(f"__mn_{c}"))
            aggs.append(F.max(c).alias(f"__mx_{c}"))
        else:  # ts
            aggs.append(
                F.date_format(F.min(c), "yyyy-MM-dd HH:mm:ss").alias(
                    f"__mn_{c}"
                )
            )
            aggs.append(
                F.date_format(F.max(c), "yyyy-MM-dd HH:mm:ss").alias(
                    f"__mx_{c}"
                )
            )
    wide = li.agg(*aggs).crossJoin(F.broadcast(li.agg(*dist_aggs)))
    slots = []
    for c, kind in PROFILE_COLS:
        mn_num = f"__mn_{c}" if kind == "num" else "CAST(NULL AS DOUBLE)"
        mx_num = f"__mx_{c}" if kind == "num" else "CAST(NULL AS DOUBLE)"
        mn_str = f"__mn_{c}" if kind != "num" else "CAST(NULL AS STRING)"
        mx_str = f"__mx_{c}" if kind != "num" else "CAST(NULL AS STRING)"
        slots.append(
            f"'{c}', __null_{c}, __nd_{c},"
            f" {mn_num}, {mx_num}, {mn_str}, {mx_str}"
        )
    return wide.select(
        F.col("__n").alias("n_rows"),
        F.expr(
            f"stack({len(PROFILE_COLS)}, {', '.join(slots)})"
        ).alias(
            "column_name",
            "n_null",
            "n_distinct",
            "min_num",
            "max_num",
            "min_str",
            "max_str",
        ),
    ).select(
        "column_name",
        "n_rows",
        "n_null",
        "n_distinct",
        "min_num",
        "max_num",
        "min_str",
        "max_str",
    )


def q_pipeline_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit over the warehouse tables — the validation
    suite a pipeline runs before training-data extraction: referential
    integrity (orphan foreign keys), primary-key uniqueness, temporal
    consistency (shipments dated before their order), domain bounds,
    coverage (orders with no lines), and cross-table reconciliation
    (order totals vs their line-item sum, exact DECIMAL arithmetic so
    the 1%-tolerance verdict is engine-independent). One row per
    check: (check_id, check_name, table_name, n_checked,
    n_violations) — nonzero rows point at the defect class, zero rows
    prove the clean dimensions stayed clean.

    Scale shape: SIX passes for ten checks — per-table checks fuse
    into one aggregate over a single (joined) scan: lineitem⟕orders
    feeds four checks in one pass (orphans, dup PK via count_distinct,
    ship-before-order, discount bounds); orders⟕customer⟕(per-order
    line sums) feeds three more in one linear plan. Every aggregate is
    a partial-agg (map-side combine) shuffle; the 1-row results are
    assembled with broadcast cross joins and unpivoted with stack().
    At 100 TB the only wide exchanges are the two fact-fact joins on
    their natural keys — exactly the work a referential check IS."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    events = _t(spark, sf_dir, "events")
    docs = _t(spark, sf_dir, "documents")

    # Pass A: lineitem ⟕ orders — checks 1-4 in one aggregate.
    li_j = li.join(
        orders.select("o_orderkey", "o_orderdate"),
        li["l_orderkey"] == F.col("o_orderkey"),
        "left",
    )
    a = li_j.agg(
        F.count(F.lit(1)).cast("bigint").alias("li_n"),
        F.sum(F.col("o_orderkey").isNull().cast("int"))
        .cast("bigint")
        .alias("c_orphan"),
        (
            F.count(F.lit(1))
            - F.countDistinct("l_orderkey", "l_linenumber")
        )
        .cast("bigint")
        .alias("c_dup_pk"),
        F.sum(
            (
                F.col("o_orderkey").isNotNull()
                & (F.col("l_shipdate") < F.col("o_orderdate"))
            ).cast("int")
        )
        .cast("bigint")
        .alias("c_ship_early"),
        F.sum(
            (
                (F.col("l_discount") < F.lit(0.0))
                | (F.col("l_discount") > F.lit(1.0))
            ).cast("int")
        )
        .cast("bigint")
        .alias("c_disc_range"),
    )

    # Pass B: orders ⟕ customer ⟕ per-order line sums — checks 5-7.
    line_sums = li.groupBy("l_orderkey").agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
        ).alias("line_total")
    )
    total_dec = F.col("o_totalprice").cast("decimal(18,2)")
    ord_j = orders.join(
        cust.select("c_custkey"),
        orders["o_custkey"] == F.col("c_custkey"),
        "left",
    ).join(line_sums, orders["o_orderkey"] == F.col("l_orderkey"), "left")
    b = ord_j.agg(
        F.count(F.lit(1)).cast("bigint").alias("ord_n"),
        F.sum(F.col("c_custkey").isNull().cast("int"))
        .cast("bigint")
        .alias("c_ord_orphan"),
        F.sum(F.col("l_orderkey").isNull().cast("int"))
        .cast("bigint")
        .alias("c_no_lines"),
        F.sum(
            (
                F.col("l_orderkey").isNotNull()
                & (
                    F.abs(total_dec - F.col("line_total")).cast("double")
                    > total_dec.cast("double") * F.lit(0.01)
                )
            ).cast("int")
        )
        .cast("bigint")
        .alias("c_total_drift"),
    )

    # Pass C: customer domain; D: events ⟕ customer; E: documents.
    c = cust.agg(
        F.count(F.lit(1)).cast("bigint").alias("cust_n"),
        F.sum((F.col("c_acctbal") < F.lit(0.0)).cast("int"))
        .cast("bigint")
        .alias("c_acctbal_neg"),
    )
    d = (
        events.join(
            cust.select(F.col("c_custkey").alias("__ck")),
            events["user_id"] == F.col("__ck"),
            "left",
        ).agg(
            F.count(F.lit(1)).cast("bigint").alias("evt_n"),
            F.sum(F.col("__ck").isNull().cast("int"))
            .cast("bigint")
            .alias("c_evt_orphan"),
        )
    )
    e = docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("doc_n"),
        F.sum(
            (
                F.col("text").isNull()
                | (F.length(F.trim(F.col("text"))) == 0)
            ).cast("int")
        )
        .cast("bigint")
        .alias("c_doc_empty"),
    )

    wide = (
        a.crossJoin(F.broadcast(b))
        .crossJoin(F.broadcast(c))
        .crossJoin(F.broadcast(d))
        .crossJoin(F.broadcast(e))
    )
    return wide.select(
        F.expr(
            "stack(10,"
            "  1, 'li_orphan_order',     'lineitem',  li_n,  c_orphan,"
            "  2, 'li_pk_unique',        'lineitem',  li_n,  c_dup_pk,"
            "  3, 'li_ship_before_order','lineitem',  li_n,  c_ship_early,"
            "  4, 'li_discount_range',   'lineitem',  li_n,  c_disc_range,"
            "  5, 'ord_orphan_cust',     'orders',    ord_n, c_ord_orphan,"
            "  6, 'ord_no_lines',        'orders',    ord_n, c_no_lines,"
            "  7, 'ord_total_consistent','orders',    ord_n, c_total_drift,"
            "  8, 'cust_acctbal_neg',    'customer',  cust_n, c_acctbal_neg,"
            "  9, 'evt_orphan_user',     'events',    evt_n, c_evt_orphan,"
            " 10, 'doc_empty_text',      'documents', doc_n, c_doc_empty"
            ") AS (check_id, check_name, table_name, n_checked,"
            "      n_violations)"
        )
    )


def q_text_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-set Jaccard near-dup pairs within (lang, source) — the
    n-gram-Jaccard dedup family, EXACT semantics at scale via prefix
    filtering (operators.dedup.jaccard_pairs_prefix_filter): candidate
    pairs come from an equi-join on rare prefix tokens (AllPairs bound,
    no false negatives), never a quadratic blocked self-join."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        F.array_distinct(F.split(F.lower("text"), " ")).alias("toks"),
    )
    return D.jaccard_pairs_prefix_filter(
        docs,
        "doc_id",
        "toks",
        JACCARD_PAIR_THRESHOLD,
        block_cols=["lang", "source"],
        # r15: tokens is a one-expression projection of a stored
        # column — the base barrier measured flat here in both r15
        # same-window A/Bs, so it stays off (cache pressure for
        # nothing).
        materialize_base=False,
    )


def q_h5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-flavored 6-way join: revenue per nation where the
    customer and supplier share the nation, within one region."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    dp = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(cust.c_nationkey == supp.s_nationkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(dp).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def q_str_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string-function surface over part names."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("up"),
        F.substring("p_name", 1, 5).alias("sub5"),
        F.length("p_name").alias("len"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devowel"),
        F.reverse(F.col("p_type")).alias("rev_type"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.instr("p_name", "a").alias("first_a"),
        F.size(F.split("p_name", " ")).alias("n_words"),
        F.trim(F.lpad("p_brand", 12, "#")).alias("padded"),
    )


def q_date_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar date/time surface over order dates."""
    orders = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return orders.select(
        "o_orderkey",
        F.year(d).alias("y"),
        F.quarter(d).alias("q"),
        F.month(d).alias("m"),
        F.dayofmonth(d).alias("dom"),
        (F.dayofweek(d) - 1).alias("dow"),  # 0=Sunday, matches duckdb dow
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.date_format(F.date_add(d.cast("date"), 30), "yyyy-MM-dd").alias(
            "plus30"
        ),
        F.datediff(F.lit("2026-01-01").cast("date"), d.cast("date")).alias(
            "days_to_2026"
        ),
    )


def q_w6_trailing_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: per order priority, the 30-day trailing
    order-value sum as of each order's date. RANGE frames are peer-
    inclusive (all rows with equal order key share a frame), so the
    result is deterministic without any unique tiebreak — unlike ROWS
    frames. Decimal-exact sum."""
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy(F.unix_date(F.col("o_orderdate").cast("date")))
        .rangeBetween(-30, 0)
    )
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("trail30_total"),
        F.count(F.lit(1)).over(w).alias("trail30_n"),
    )


def q_agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arg-max aggregates: per user, the event_type of their latest
    event (max_by over the unique event_id — deterministic), plus the
    matching extremes."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.expr("max_by(event_type, event_id)").alias("last_type"),
        F.expr("min_by(event_type, event_id)").alias("first_type"),
        F.max("event_id").alias("last_id"),
        F.count(F.lit(1)).alias("n"),
    )


def q_agg_collect_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered array aggregation: per user, event types as an array in
    event_id order. collect_list alone is partition-order-dependent;
    sorting structs by the unique id makes it deterministic (and
    engine-reproducible)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    return ev.groupBy("user_id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(event_id, event_type))),"
            " x -> x.event_type)"
        ).alias("types_in_order"),
        F.count(F.lit(1)).alias("n"),
    )


def q_math_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar math/conditional surface. Only IEEE-deterministic
    functions: sqrt is correctly rounded by spec; exp/ln are libm-
    dependent across engines and deliberately excluded from the
    oracle-checked surface."""
    ev = _t(spark, sf_dir, "events")
    v = F.col("value")
    return ev.select(
        "event_id",
        F.abs(v - 500).alias("abs_c"),
        F.ceil(v / 10).cast("long").alias("ceil_d"),
        F.floor(v / 10).cast("long").alias("floor_d"),
        F.signum(v - 500).cast("int").alias("sign_c"),
        F.round(F.sqrt(v), 6).alias("sqrt_v"),
        (v * v).alias("sq"),
        F.greatest(v, F.lit(250.0)).alias("hi"),
        F.least(v, F.lit(750.0)).alias("lo"),
        F.when(v >= 500, F.lit("hi")).otherwise(F.lit("lo")).alias("band"),
        F.nullif(F.col("event_type"), F.lit("error")).alias("nn_type"),
        (F.col("user_id") % 10).alias("mod10"),
    )


def q_h7_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped agg with HAVING: busy customers only."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dsum("o_totalprice").alias("total_spend"),
        )
        .filter(F.col("n_orders") >= 15)
    )


def q_j1_outer_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer join with null semantics: per customer, count of
    high-value orders (0 for customers with none)."""
    cust = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 4000)
    j = cust.join(big, cust.c_custkey == big.o_custkey, "left")
    return j.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("n_big_orders"),
        F.coalesce(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"),
            F.lit(0.0),
        ).alias("big_total"),
    )


def q_sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN: SRP-bucketed candidates with Hamming-1
    multi-probe, then exact rerank — the scale path next to the
    brute-force baseline (recall@10 ≈ 0.48 vs 0.20 single-probe on
    this corpus; tests/test_ann_recall.py pins the floor)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < ANN_NQUERY)
    return S.ann_lsh_topk(
        emb,
        queries_df,
        "vec_id",
        "embedding",
        k=ANN_K,
        num_planes=4,
        dim=64,
        probes=5,
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: text bytes as stand-in media content →
    typed metadata (JVM-side) → Arrow-batched featurizer (mapInPandas,
    deterministic stub backend). f0/f1 are exact (k/65536 is a dyadic
    rational, lossless in float32)."""
    from broadway_spark.operators import multimodal as MM

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("content")
    )
    media = MM.attach_media(docs, "content", "text/plain")
    feats = MM.featurize(media, "content", backend="deterministic_stub")
    # published as the exact integer numerator k (f = k/65536 — the
    # float32 division by 2^16 is lossless, so *65536 recovers k
    # exactly): r13 boundary-audit hygiene — the dyadic doubles were
    # value-coincident with 6dp half-way points (k ≡ 0 mod 512), and
    # integers keep the published surface free of look-alike risk
    return feats.select(
        "doc_id",
        "byte_len",
        "content_md5",
        (F.element_at("feature", 1) * 65536).cast("int").alias("f0_u16"),
        (F.element_at("feature", 2) * 65536).cast("int").alias("f1_u16"),
    )


def q_multimodal_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal training-record assembly: the media-envelope table
    (binary payload + JVM-side typed metadata; doc-id parity plays the
    image/audio modality split) joined with the embedding table on id
    — the record-building join of a multimodal training pipeline,
    where payload metadata and vector-side features land in one row.
    Reports the (modality × label) class balance of the assembled set
    plus a unit-norm QA column: the max integer-micro-unit deviation
    of the squared norm from 1e12 (exact fold, no float drift — the
    corpus IS unit-normalized and this proves it engine-exactly). ONE
    equi-join — at 100 TB both sides hash-partition on the shared id,
    the binary payload column is pruned before the exchange (only
    byte_len travels) — plus one partial-agg shuffle."""
    from broadway_spark.operators import multimodal as MM

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("content")
    )
    media = MM.attach_media(docs, "content", "image/stub").withColumn(
        "media_type",
        F.when(F.col("doc_id") % 2 == 0, F.lit("image/stub")).otherwise(
            F.lit("audio/stub")
        ),
    )
    emb = _t(spark, sf_dir, "embeddings")
    micro = "transform(embedding, x -> cast(round(x * 1e6) as bigint))"
    vec = emb.select(
        "vec_id",
        "label",
        F.expr(f"aggregate({micro}, 0L, (a, x) -> a + x * x)").alias("sq"),
    )
    rec = media.select("doc_id", "media_type", "byte_len").join(
        vec, media.doc_id == vec.vec_id
    )
    return (
        rec.select(
            "media_type",
            "label",
            "byte_len",
            F.abs(F.col("sq") - F.lit(1_000_000_000_000))
            .cast("bigint")
            .alias("__dev"),
        )
        .groupBy("media_type", "label")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.sum("byte_len").cast("bigint").alias("sum_bytes"),
            F.max("__dev").alias("norm_dev_max"),
        )
    )


def q_h4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS / semi-join: orders having at least one returned line."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def q_r1_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregate over (event_type, value-band)."""
    ev = _t(spark, sf_dir, "events")
    # floor() then cast: DuckDB's double→INT cast rounds-to-nearest
    # while Spark truncates — floor makes both exact-equal.
    band = F.floor(F.col("value") / 100).cast("int").alias("value_band")
    return (
        ev.select("event_type", band, "value")
        .rollup("event_type", "value_band")
        .agg(F.count(F.lit(1)).alias("n"), _dsum("value").alias("sum_value"))
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("value_band").cast("string"), F.lit("ALL")).alias(
                "value_band"
            ),
            "n",
            "sum_value",
        )
    )


def q_w13_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame — trailing-hour rolling metrics per
    user: for every event, how many events (and how much decimal-
    exact value) the same user produced in the preceding hour
    INCLUDING this one. RANGE frames bound by event-time micros are
    the window capability ROWS frames can't express (peers with equal
    timestamps enter together; the frame width is wall-clock, not
    row-count). One keyed shuffle — the same exchange sessionization
    pays; the frame scan is a per-partition sliding pointer, never
    quadratic."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-(3_600_000_000 - 1), 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_1h"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,2)"))
            .over(w)
            .cast("double"),
            2,
        ).alias("sum_1h"),
    )


# Correlation-matrix spec: numeric lineitem columns, all ≤2dp so the
# DECIMAL(12,2) casts (and their products) are exact in both engines.
CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def q_agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over four fact columns from
    ONE scan: every Σx, Σx², Σxy is a decimal-exact aggregate (order-
    independent), and the final r per pair is computed with an
    IDENTICAL double expression on both engines, rounded to 6dp. The
    exchange carries one row of partials; the 6-pair unpivot is a
    stack over that single row. This is df.stat.corr as an
    oracle-checkable query — at 100 TB it's still one map-side-
    partial pass."""
    li = _t(spark, sf_dir, "lineitem")
    d = "decimal(12,2)"
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n")]
    for c in CORR_COLS:
        aggs.append(
            F.sum(F.col(c).cast(d)).cast("double").alias(f"s_{c}")
        )
        aggs.append(
            F.sum(F.col(c).cast(d) * F.col(c).cast(d))
            .cast("double")
            .alias(f"q_{c}")
        )
    pairs = [
        (a, b)
        for i, a in enumerate(CORR_COLS)
        for b in CORR_COLS[i + 1 :]
    ]
    for a, b in pairs:
        aggs.append(
            F.sum(F.col(a).cast(d) * F.col(b).cast(d))
            .cast("double")
            .alias(f"x_{a}_{b}")
        )
    wide = li.agg(*aggs)
    slots = []
    for a, b in pairs:
        corr = (
            f"round((CAST(n AS DOUBLE) * x_{a}_{b} - s_{a} * s_{b})"
            f" / sqrt((CAST(n AS DOUBLE) * q_{a} - s_{a} * s_{a})"
            f" * (CAST(n AS DOUBLE) * q_{b} - s_{b} * s_{b})), 6)"
        )
        slots.append(f"'{a}', '{b}', {corr}")
    return wide.select(
        F.col("n").alias("n_rows"),
        F.expr(f"stack({len(pairs)}, {', '.join(slots)})").alias(
            "col_x", "col_y", "corr"
        ),
    ).select("col_x", "col_y", "n_rows", "corr")


# Shared skew/kurtosis double formula (identical text both engines;
# inputs are exact decimal sums cast to double, n cast to double).
_MOM_MU = "(s1 / n)"
_MOM_M2 = f"(s2 / n - {_MOM_MU} * {_MOM_MU})"
_MOM_M3 = (
    f"(s3 / n - 3 * {_MOM_MU} * (s2 / n)"
    f" + 2 * {_MOM_MU} * {_MOM_MU} * {_MOM_MU})"
)
_MOM_M4 = (
    f"(s4 / n - 4 * {_MOM_MU} * (s3 / n)"
    f" + 6 * {_MOM_MU} * {_MOM_MU} * (s2 / n)"
    f" - 3 * {_MOM_MU} * {_MOM_MU} * {_MOM_MU} * {_MOM_MU})"
)
_MOM_SKEW = f"round({_MOM_M3} / power({_MOM_M2}, 1.5), 6)"
_MOM_KURT = f"round({_MOM_M4} / ({_MOM_M2} * {_MOM_M2}) - 3, 6)"


def q_agg_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewness and excess kurtosis per event type from ONE pass: the
    four power sums Σx..Σx⁴ are decimal-exact aggregates (DECIMAL(8,2)
    inputs keep every product exact — values are 2dp and ≤6 integer
    digits, so x⁴ fits (35,8)), then the standardized-moment formulas
    run as the IDENTICAL double expression on both engines, rounded
    6dp. One partial-agg shuffle on event_type; the moment math runs
    over |event types| rows."""
    ev = _t(spark, sf_dir, "events")
    d = "decimal(8,2)"
    c = F.col("value").cast(d)
    sums = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(c).cast("double").alias("s1"),
        F.sum(c * c).cast("double").alias("s2"),
        F.sum(c * c * c).cast("double").alias("s3"),
        F.sum(c * c * c * c).cast("double").alias("s4"),
    )
    return sums.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_events"),
        F.expr(_MOM_SKEW).alias("skewness"),
        F.expr(_MOM_KURT).alias("kurtosis"),
    )


def q_r4_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (l_returnflag, l_linestatus) with GROUPING_ID — the
    grouping variant rollup (r1) and grouping sets (ds2) don't cover:
    all four subtotal combinations from ONE Expand pass, each row
    tagged with the bitmask that tells a report renderer which
    dimensions are aggregated away. Decimal-exact sums; the exchange
    carries 4×|flag×status| partials, never fact rows."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).alias("n"),
            _dsum("l_extendedprice").alias("sum_price"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "gid",
            "n",
            "sum_price",
        )
    )


def q_evt_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch revenue attribution: each purchase's value is
    credited to the user's most recent PRIOR non-purchase event type
    (direct if none) — the marketing-attribution primitive. One
    window pass: last_value(ignorenulls) over the user's (ts,
    event_id) order carries the latest touch forward, then one
    partial-agg shuffle credits decimal-exact revenue per channel.
    No self-join, no as-of staging — the same single-shuffle shape as
    sessionization."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        ev.select(
            "event_type",
            "value",
            F.coalesce(touch, F.lit("direct")).alias("channel"),
        )
        .where(F.col("event_type") == "purchase")
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            _dsum("value").alias("attributed_revenue"),
        )
    )


SOFT_DEDUP_SEED = "softdedup:"


def q_sample_soft_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft deduplication (down-weighted sampling): instead of keeping
    one copy per exact-duplicate group, keep each copy independently
    with probability 1/n_copies via a deterministic per-doc hash —
    the expected surviving mass per group is ONE document, preserving
    diversity while flattening duplication (the 'soft dedup' used
    when hard dedup is too lossy). Reports per source: docs, docs
    kept, and the duplicated-mass diagnostic. Shape: one fingerprint
    partial-agg, one count join back (fingerprints only — text never
    shuffles), codegen hash filter."""
    docs = _t(spark, sf_dir, "documents")
    fp = docs.select("doc_id", "source", H.fingerprint("text").alias("fp"))
    grp = fp.groupBy("fp").agg(F.count(F.lit(1)).cast("bigint").alias("nc"))
    h_ppm = F.expr(
        "CAST(conv(substring(md5(concat('"
        + SOFT_DEDUP_SEED
        + "', CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT)"
        " % 1000000"
    )
    return (
        fp.join(grp, "fp")
        .select(
            "source",
            "nc",
            (h_ppm < F.expr("CAST(1000000 AS BIGINT) DIV nc"))
            .cast("int")
            .alias("keep"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("keep").cast("bigint").alias("n_kept"),
            F.sum(F.when(F.col("nc") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_duplicated"),
        )
    )


# ---------------------------------------------------------------------------
# Temporal / sketch / IVF extensions
# ---------------------------------------------------------------------------

SESSION_GAP_MIN = 30
HLL_SEED = 5
IVF_NCENT = 16
IVF_NPROBE = 4


def q_aj1_asof_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase gets the user's most recent prior-or-
    simultaneous click (id, value, gap in µs). Union + one keyed sort —
    no join explosion (operators/temporal.py::asof_join)."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts", "value"
    )
    joined = TM.asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_cols=["event_id", "value"],
        order_col="event_id",
    )
    return joined.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("event_id_right").alias("click_id"),
        F.col("value_right").alias("click_value"),
        (F.unix_micros("ts") - F.unix_micros("matched_ts")).alias("gap_us"),
    )


def q_aj2_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness TOLERANCE (the pandas/polars/kdb
    knob): each purchase gets the most recent prior click only if it
    is at most 2 hours old — older matches null out, the purchase row
    survives. Same one-shuffle zero-join plan as aj1; the tolerance is
    a post-window predicate."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts", "value"
    )
    joined = TM.asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_cols=["event_id", "value"],
        order_col="event_id",
        tolerance="2 hours",
    )
    return joined.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("event_id_right").alias("click_id"),
        F.col("value_right").alias("click_value"),
        (F.unix_micros("ts") - F.unix_micros("matched_ts")).alias("gap_us"),
    )


def q_aj3_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (direction="forward"): each purchase gets
    the user's NEXT click at-or-after it — the look-ahead attribution
    form ("what did they do right after buying") — bounded by a
    2-hour look-ahead tolerance. Same union + ONE keyed sort plan as
    aj1/aj2 with only the sort direction flipped; ties at equal ts
    resolve to the greatest click id, matching the backward
    convention (operators/temporal.py::asof_join)."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts", "value"
    )
    joined = TM.asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_cols=["event_id", "value"],
        order_col="event_id",
        tolerance="2 hours",
        direction="forward",
    )
    return joined.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("event_id_right").alias("click_id"),
        F.col("value_right").alias("click_value"),
        (F.unix_micros("matched_ts") - F.unix_micros("ts")).alias("gap_us"),
    )


def q_text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking for context-window pipelines: split every doc
    into 32-token windows on a 24-token stride (8-token overlap) — the
    standard RAG/pretraining chunker — emitting per chunk its index,
    token count, and an md5 content fingerprint (the chunk-level dedup
    key). Chunks under 8 tokens are dropped — for a multi-chunk doc
    that only trims the trailing stub (the previous window covers it);
    a doc shorter than 8 tokens emits NO chunks at all (its sole
    chunk is the stub), so sub-8-token docs are excluded entirely.

    Scale shape: one split + one sequence-explode + a per-chunk slice —
    all codegen, no shuffle at all until a consumer aggregates; chunk
    count ≈ tokens/stride per doc, linear in corpus size."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split(F.lower("text"), " ").alias("__tk")
    )
    chunks = toks.select(
        "doc_id",
        "__tk",
        F.posexplode(
            F.expr(
                "sequence(1, greatest(size(__tk) - 8 + 1, 1), 24)"
            )
        ).alias("chunk_idx", "__start"),
    ).select(
        "doc_id",
        "chunk_idx",
        F.expr("slice(__tk, __start, 32)").alias("__chunk"),
    )
    return chunks.select(
        "doc_id",
        "chunk_idx",
        F.size("__chunk").alias("n_tokens"),
        F.expr("md5(array_join(__chunk, ' '))").alias("chunk_fp"),
    ).filter(F.col("n_tokens") >= 8)


def q_pipeline_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level duplication report: chunk every doc (the
    text_chunk_windows table), fingerprint-dedup the CHUNKS across the
    corpus, then report per doc how many of its chunks are corpus-wide
    duplicates and whether the doc is the keeper of any — the signal
    behind boilerplate stripping at chunk granularity (doc-level dedup
    misses a shared paragraph inside otherwise-unique docs).

    Scale shape: chunker is shuffle-free; dedup is one hash-aggregate
    on the chunk fingerprint; the report is one more partial agg keyed
    by doc. Nothing quadratic anywhere."""
    chunks = q_text_chunk_windows(spark, sf_dir)
    fp_stats = chunks.groupBy("chunk_fp").agg(
        F.count(F.lit(1)).alias("__copies"),
        F.min(
            F.struct(F.col("doc_id").alias("d"), F.col("chunk_idx").alias("i"))
        ).alias("__keeper"),
    )
    # NO broadcast hint: fp_stats has one row per DISTINCT chunk — a
    # corpus-sized side at 100 TB. Shuffle hash join on the
    # fingerprint (AQE may still broadcast at small SF on its own).
    joined = chunks.join(fp_stats, "chunk_fp")
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum((F.col("__copies") > 1).cast("int")).alias("n_dup_chunks"),
        F.sum(
            (
                (F.col("__copies") > 1)
                & (F.col("__keeper.d") == F.col("doc_id"))
                & (F.col("__keeper.i") == F.col("chunk_idx"))
            ).cast("int")
        ).alias("n_kept_dups"),
    )


def q_sample_bernoulli_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Bernoulli sampling by hash — THE shuffle-free
    sampler: a doc is in the p=1/8 sample iff an md5-derived uniform
    of its id falls under the threshold. Reproducible across runs,
    engines, and partitionings (unlike rand()-based .sample()), and
    composable (disjoint seeds → independent samples). The others in
    the sample_* family need rank windows; this one is a pure per-row
    predicate the scan can evaluate — the right default for 100 TB
    corpus subsampling.

    Output: the sampled ids + a population/sample summary row check
    (n, sum of token counts) per lang."""
    docs = _t(spark, sf_dir, "documents")
    u = F.expr(
        "CAST(conv(substring(md5(concat('bern7:', CAST(doc_id AS STRING))),"
        " 1, 8), 16, 10) AS BIGINT)"
    )
    picked = docs.filter((u % 8) == 0)
    return picked.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum(T.token_count("text")).cast("bigint").alias("tokens_sampled"),
        F.min("doc_id").alias("first_id"),
        F.max("doc_id").alias("last_id"),
    )


def q_w3_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-minute-gap activity sessions per user via the
    native (streaming-capable) session_window aggregation."""
    ev = _t(spark, sf_dir, "events")
    s = TM.sessionize(
        ev,
        "ts",
        ["user_id"],
        gap=f"{SESSION_GAP_MIN} minutes",
        aggs=[
            F.count(F.lit(1)).alias("n_events"),
            _dsum("value").alias("sum_value"),
        ],
    )
    return s.select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        "n_events",
        "sum_value",
    )


def q_agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event_type (the built-in
    ``percentile``, a single sort-based aggregate; rounded 6dp)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.expr("percentile(value, array(0.25D, 0.5D, 0.9D))").alias("__p"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "event_type",
            F.round(F.element_at("__p", 1), 6).alias("p25"),
            F.round(F.element_at("__p", 2), 6).alias("p50"),
            F.round(F.element_at("__p", 3), 6).alias("p90"),
            "n",
        )
    )


def q_sketch_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog distinct-user estimate per event_type, next
    to the exact count (functions/sketches.py — integer-exact registers,
    engine-reproducible)."""
    ev = _t(spark, sf_dir, "events")
    est = K.hll_count_distinct(ev, ["event_type"], "user_id", seed=HLL_SEED)
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_exact")
    )
    return exact.join(est, "event_type")


def q_sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN: coarse-quantizer cells + nprobe probing
    (operators/similarity.py::ann_ivf_topk)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < ANN_NQUERY)
    return S.ann_ivf_topk(
        emb,
        queries,
        "vec_id",
        "embedding",
        k=ANN_K,
        num_centroids=IVF_NCENT,
        nprobe=IVF_NPROBE,
    )


# ---------------------------------------------------------------------------
# Relational suite, second wave: correlated-subquery shape, deep joins,
# set ops, CUBE, rolling windows, range join, exact moment statistics
# ---------------------------------------------------------------------------

FOLLOW_WINDOW_MIN = 5


def q_h2_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery shape: orders strictly above their customer's
    average order value. Spark-first: the correlated scalar subquery is
    re-expressed as ONE window pass (count+sum over the customer
    partition) — no self-join, no per-row subquery. Decimal-exact
    compare (price*n > sum) avoids division entirely."""
    orders = _t(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    w = Window.partitionBy("o_custkey")
    return (
        orders.withColumn("n", F.count(F.lit(1)).over(w))
        .withColumn("tot", F.sum(dec).over(w))
        .filter(dec * F.col("n") > F.col("tot"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


def q_h10_returned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deep join: top-20 customers by revenue lost to returned lines
    (lineitem ⋈ orders ⋈ customer ⋈ broadcast nation)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    dp = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(F.sum(dp).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


def q_set2_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT as the scalable semi-join: users who both viewed and
    purchased."""
    ev = _t(spark, sf_dir, "events")
    viewers = ev.filter(F.col("event_type") == "view").select("user_id").distinct()
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    return viewers.join(buyers, "user_id", "left_semi").agg(
        F.count(F.lit(1)).alias("n_both")
    )


def q_u1_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of two tagged branches, re-aggregated (the multi-source
    ingest merge)."""
    ev = _t(spark, sf_dir, "events")
    big = ev.filter((F.col("event_type") == "purchase") & (F.col("value") > 500)).select(
        F.lit("big_purchase").alias("src"), "event_id", "value"
    )
    err = ev.filter(F.col("event_type") == "error").select(
        F.lit("error").alias("src"), "event_id", "value"
    )
    return big.unionAll(err).groupBy("src").agg(
        F.count(F.lit(1)).alias("n"),
        _dsum("value").alias("sum_value"),
        F.min("event_id").alias("min_id"),
    )


def q_r2_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, day-of-week) — all 4 grouping sets in one
    shuffle (Expand + partial agg, no re-scan per set)."""
    ev = _t(spark, sf_dir, "events")
    dow = (F.dayofweek("ts") - 1).alias("dow")  # 0=Sunday, matches DuckDB
    return (
        ev.select("event_type", dow, "value")
        .cube("event_type", "dow")
        .agg(F.count(F.lit(1)).alias("n"), _dsum("value").alias("sum_value"))
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("dow").cast("string"), F.lit("ALL")).alias("dow"),
            "n",
            "sum_value",
        )
    )


def q_w4_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling/offset windows per user ordered by event_id: lag, lead,
    and a 7-row trailing sum (decimal-exact, order-deterministic)."""
    ev = _t(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("event_id")
    w7 = wo.rowsBetween(-6, 0)
    dec = F.col("value").cast("decimal(18,2)")
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.lag("value", 1).over(wo).alias("prev_value"),
        F.lead("value", 1).over(wo).alias("next_value"),
        F.sum(dec).over(w7).cast("double").alias("roll_sum7"),
        F.count(F.lit(1)).over(w7).alias("roll_n7"),
    )


def q_rj1_follow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded range self-join: which event types follow which within 5
    minutes for the same user — bucket-expansion equi-join, not a theta
    join (operators/temporal.py::follow_within)."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type")
    pairs = TM.follow_within(
        ev,
        keys=["user_id"],
        ts_col="ts",
        window=f"{FOLLOW_WINDOW_MIN} minutes",
        id_col="event_id",
        cols=["event_type"],
    )
    return pairs.groupBy(
        F.col("event_type").alias("type_a"),
        F.col("event_type_b").alias("type_b"),
    ).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.max(F.unix_micros("ts_b") - F.unix_micros("ts")).alias("max_gap_us"),
    )


def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moment statistics (mean / sample stddev / correlation) computed
    from decimal-exact power sums so both engines do the *same* float
    ops on the *same* exact inputs — bit-reproducible, unlike native
    stddev/corr whose partial-sum order differs per engine."""
    ev = _t(spark, sf_dir, "events")
    x = F.col("value").cast("decimal(18,2)")
    u = F.col("user_id").cast("decimal(18,0)")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(x * x).alias("sxx"),
        F.sum(u).alias("su"),
        F.sum(u * u).alias("suu"),
        F.sum(x * u).alias("sxu"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    su = F.col("su").cast("double")
    suu = F.col("suu").cast("double")
    sxu = F.col("sxu").cast("double")
    var = (n * sxx - sx * sx) / (n * (n - F.lit(1.0)))
    corr = (n * sxu - sx * su) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * suu - su * su)
    )
    return g.select(
        "event_type",
        "n",
        # mean = ratio of a 2dp-decimal sum by a count — an exact
        # rational; published as integer ppm (functions/exact.py), not
        # a 6dp round (the evt_burstiness half-way class). stddev/corr
        # keep the round: their sqrt factor makes ties measure-zero.
        X.ratio_ppm(F.col("sx"), F.col("n")).alias("mean_v_ppm"),
        F.round(F.sqrt(var), 6).alias("stddev_v"),
        F.round(corr, 6).alias("corr_vu"),
    )


def q_text_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 token bigrams across the corpus (explode + count — the
    n-gram frequency primitive under LM data curation)."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), " ")
    # NB: Spark's sequence(1, 0) counts *down* ([1, 0]) instead of
    # returning empty, so single-token docs must be filtered out first.
    bigrams = F.expr(
        "transform(sequence(1, size(__toks) - 1),"
        " i -> concat_ws(' ', __toks[i-1], __toks[i]))"
    )
    return (
        docs.select(toks.alias("__toks"))
        .filter(F.size("__toks") >= 2)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(20)
    )


def q_j2_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join null semantics: event activity per user id merged
    with the customer dimension; either side may be absent."""
    ev = _t(spark, sf_dir, "events").groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = ev.join(cust, ev.user_id == cust.c_custkey, "full")
    return j.select(
        F.coalesce("user_id", "c_custkey").alias("uid"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        (~F.isnull("c_custkey")).alias("is_customer"),
        F.coalesce("c_mktsegment", F.lit("NONE")).alias("segment"),
    )


# ---------------------------------------------------------------------------
# Third wave: corpus statistics, sampling, ranking surface, pivot,
# embedding centroids, dedup clustering
# ---------------------------------------------------------------------------

TFIDF_TOP = 25
# BM25 (Robertson/Lucene formulation): idf = ln(1 + (N-df+0.5)/(df+0.5)),
# tf saturation k1=1.2, length normalization b=0.75. Scores are summed
# in integer micro-units so the top-k ranking is engine-exact.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 10
BM25_QUERIES = (
    (1, ("hash", "join")),
    (2, ("sort", "merge")),
    (3, ("window", "agg")),
    (4, ("stream", "batch")),
    (5, ("vector", "scan")),
)
SAMPLE_SEED = 7
SAMPLE_RATE_PER_MILLE = {"src0": 200, "src1": 700}  # else 500
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus document-frequency / IDF table, top terms. One explode +
    one agg + a broadcast scalar join — the full-corpus statistics pass
    under any TF-IDF quality filter."""
    docs = _t(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.lower("text"), " "))).alias("term"),
    )
    df_counts = terms.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    total = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        df_counts.crossJoin(F.broadcast(total))
        .select(
            "term",
            "df",
            F.round(
                F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))),
                6,
            ).alias("idf"),
        )
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(TFIDF_TOP)
    )


def q_text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval: top-k documents per query for a fixed query set
    (the relevance scorer behind corpus search / RAG retrieval over a
    training corpus). Okapi BM25 with the Lucene idf
    (ln(1 + (N-df+0.5)/(df+0.5))), k1/b from the module constants.

    Scale shape: ONLY tokens matching a query term survive past the
    broadcast semi-join against the tiny query-term table, so the
    per-doc tf aggregate and everything after it shuffle a vanishingly
    small slice of the corpus; doc lengths come from size(split())
    with no explode; N/avgdl is a broadcast 1-row aggregate (the
    text_tfidf pattern). Per-term scores are floored to integer
    micro-units BEFORE the per-(query, doc) sum, so accumulation is
    exact and the (score desc, doc_id) top-k is engine-independent.
    Returns (query_id, doc_id, score_micro, rank), rank ≤ BM25_TOPK.
    """
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), " ")
    base = docs.select(
        "doc_id", toks.alias("__toks"), F.size(toks).alias("dl")
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").cast("bigint").alias("sum_dl"),
    )
    qterms = spark.createDataFrame(
        [(qid, t) for qid, ts in BM25_QUERIES for t in ts],
        "query_id int, term string",
    )
    matched = base.select(
        "doc_id", "dl", F.explode("__toks").alias("term")
    ).join(F.broadcast(qterms), "term")
    tf = matched.groupBy("query_id", "term", "doc_id", "dl").agg(
        F.count(F.lit(1)).alias("tf")
    )
    dfreq = (
        tf.select("term", "doc_id")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    dl_norm = F.col("dl") * F.col("n_docs") / F.col("sum_dl")
    denom = F.col("tf") + F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B) + F.lit(BM25_B) * dl_norm
    )
    term_score = idf * (F.col("tf") * F.lit(BM25_K1 + 1.0)) / denom
    micro = F.floor(term_score * F.lit(1000000.0) + F.lit(0.5)).cast(
        "bigint"
    )
    per_doc = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select("query_id", "doc_id", micro.alias("__sm"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("__sm").cast("bigint").alias("score_micro"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), F.col("doc_id").asc()
    )
    return per_doc.withColumn(
        "rank", F.row_number().over(w).cast("int")
    ).filter(F.col("rank") <= BM25_TOPK)


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-source keep-rates applied
    via a portable content hash — reproducible on any engine, no
    shuffle beyond the final small agg, no RNG state."""
    docs = _t(spark, sf_dir, "documents")
    rate = F.when(F.col("source") == "src0", F.lit(SAMPLE_RATE_PER_MILLE["src0"]))
    rate = rate.when(F.col("source") == "src1", F.lit(SAMPLE_RATE_PER_MILLE["src1"]))
    rate = rate.otherwise(F.lit(500))
    bucket = H.portable_hash(F.col("doc_id").cast("string"), seed=SAMPLE_SEED) % 1000
    return (
        docs.select("source", (bucket < rate).cast("int").alias("kept"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("kept").alias("n_kept"),
        )
    )


def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted Bernoulli sampling: per-row keep probability
    proportional to the row's weight (quantity), decided by a portable
    content hash — the deterministic, engine-reproducible analogue of
    ``rand() < w`` for training-mix shaping. No RNG state, no shuffle
    before the final small aggregate, trivially resumable at 100 TB."""
    li = _t(spark, sf_dir, "lineitem")
    key = F.concat(
        F.col("l_orderkey").cast("string"),
        F.lit("-"),
        F.col("l_linenumber").cast("string"),
    )
    bucket = H.portable_hash(key, seed=11) % 1000
    rate = F.least(F.col("l_quantity").cast("bigint") * 20, F.lit(1000))
    kept = bucket < rate
    return (
        li.select(
            "l_returnflag",
            kept.cast("int").alias("k"),
            F.when(kept, F.col("l_quantity").cast("bigint"))
            .otherwise(F.lit(0))
            .alias("q"),
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("k").alias("n_kept"),
            F.sum("q").cast("bigint").alias("qty_kept"),
        )
    )


def q_w5_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function surface: rank / dense_rank / ntile / percent_rank
    / cume_dist over a deterministic total order.

    Scale shape: the naive form partitions every window on
    o_orderpriority — FIVE distinct values, so the whole orders table
    funnels through 5 tasks. The window's ORDER BY carries an
    o_orderkey tiebreak, so its peer groups are singletons and every
    rank function is a closed form of (row_number, per-key n): rank =
    dense_rank = row_number, percent_rank = (rn−1)/(n−1), cume_dist =
    rn/n, ntile = exact integer arithmetic. row_number comes from the
    distributed prefix-sum core (running count via
    operators/batching.running_sums_distributed) and the 5-row count
    aggregate broadcasts — no stage's parallelism is bounded by the
    priority domain."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    rn = B.running_sums_distributed(
        orders,
        ["o_orderpriority"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        {"__rn": F.lit(1).cast("long")},
    )
    n_df = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    base = rn.join(F.broadcast(n_df), "o_orderpriority")
    return base.select(
        "o_orderkey",
        "o_orderpriority",
        F.col("__rn").cast("int").alias("rnk"),
        F.col("__rn").cast("int").alias("drnk"),
        RK.exact_ntile_cols("__rn", "__n", 4).alias("quartile"),
        # rank/count ratios → exact integer ppm (the half-way class:
        # a priority with 2^7·5^j orders ties exactly at 6dp)
        F.when(F.col("__n") == 1, F.lit(0).cast("long"))
        .otherwise(X.ratio_ppm(F.col("__rn") - 1, F.col("__n") - 1))
        .alias("prank_ppm"),
        X.ratio_ppm(F.col("__rn"), F.col("__n")).alias("cdist_ppm"),
    )


def q_pv1_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: per day-of-week event counts, one column per event type
    (explicit value list → stable schema, single shuffle)."""
    ev = _t(spark, sf_dir, "events")
    dow = (F.dayofweek("ts") - 1).alias("dow")
    piv = (
        ev.select(dow, "event_type")
        .groupBy("dow")
        .pivot("event_type", EVENT_TYPES)
        .count()
    )
    return piv.select(
        "dow",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in EVENT_TYPES],
    )


def q_emb_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids via integer micro-unit sums:
    components are floor(x*1e6) quantized so the aggregation is exact
    integer math (order-independent ⇒ engine-reproducible), then
    averaged. posexplode + one (label, dim) agg — the centroid pass of
    k-means / IVF training at scale."""
    emb = _t(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    ).select(
        "label",
        "pos",
        F.floor(F.col("v").cast("double") * 1000000).cast("long").alias("vmicro"),
    )
    return (
        ex.groupBy("label", "pos")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("vmicro").alias("sum_micro"))
        .select(
            "label",
            "pos",
            "n",
            # floor, not round: round() ties (x.5 micro-units) resolve
            # half-up in Spark but half-even in DuckDB; floor of the
            # identical IEEE quotient is bit-deterministic in both.
            F.floor(
                F.col("sum_micro").cast("double") / F.col("n").cast("double")
            )
            .cast("long")
            .alias("centroid_micro"),
        )
    )


def q_ts_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-granularity rollup: per-(day, hour,
    minute) aggregates plus the hour, day, and grand totals in ONE
    Expand pass over one scan — ROLLUP's hierarchy *is* the time
    grain hierarchy, so no per-granularity re-aggregation and no
    self-union."""
    ev = _t(spark, sf_dir, "events")
    keyed = ev.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.date_format("ts", "HH").alias("hour"),
        F.date_format("ts", "mm").alias("minute"),
        "value",
    )
    return (
        keyed.rollup("day", "hour", "minute")
        .agg(F.count(F.lit(1)).alias("n"), _dsum("value").alias("sum_value"))
        .select(
            F.coalesce("day", F.lit("ALL")).alias("day"),
            F.coalesce("hour", F.lit("ALL")).alias("hour"),
            F.coalesce("minute", F.lit("ALL")).alias("minute"),
            "n",
            "sum_value",
        )
    )


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: new-arrival docs (sources src10+) kept only
    if their content fingerprint is absent from the existing corpus
    (src0..src9) — a fingerprint left-anti join, the daily-ingest
    dedup pass. At scale both sides hash-shuffle once on the md5
    fingerprint (or the corpus side becomes a bloom/broadcast)."""
    docs = _t(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 10).cast("int")
    fp = H.fingerprint("text").alias("fp")
    corpus = docs.filter(src_num < 10).select(fp)
    new = docs.filter(src_num >= 10).select("doc_id", "lang", fp)
    kept = new.join(corpus, "fp", "left_anti")
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_new"),
        F.min("doc_id").alias("min_id"),
    )


def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe aggregation: the salted two-phase agg
    (operators/skew.py::salted_aggregate) over the deliberately skewed
    event_type key — results must be identical to the plain GROUP BY
    (the oracle runs the plain form), proving salting is semantics-
    preserving while spreading a hot key over salt_n reducers."""
    ev = _t(spark, sf_dir, "events")
    ev = ev.withColumn("__v", F.col("value").cast("decimal(18,2)"))
    out = SK.salted_aggregate(
        ev,
        ["event_type"],
        {
            "n": (F.count(F.lit(1)), F.sum("n")),
            "sum_value": (F.sum("__v"), F.sum("sum_value")),
            "max_id": (F.max("event_id"), F.max("max_id")),
        },
        salt_n=16,
        salt_from=["event_id"],
    )
    return out.select(
        "event_type",
        "n",
        F.col("sum_value").cast("double").alias("sum_value"),
        "max_id",
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: connected components over the MinHash-LSH
    pair graph (operators/dedup.py::near_dup_clusters — iterative
    min-label propagation, the scalable alternative to driver-side
    union-find). Oracle: the same components via a DuckDB recursive-CTE
    transitive closure over the identical pair set (min-label
    propagation converges to min reachable id per component, so the
    two formulations agree exactly)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        docs,
        "doc_id",
        "text",
        num_hashes=MINHASH_NUM,
        bands=MINHASH_BANDS,
        threshold=MINHASH_THRESHOLD,
        shingle_k=MINHASH_K,
    )
    return D.near_dup_clusters(pairs, "id_a", "id_b")


# ---------------------------------------------------------------------------
# Relational suite, third wave: multi-dim join trees, disjunctive scan
# predicates, conditional-aggregate shares, anti-join cohorts, hopping
# windows
# ---------------------------------------------------------------------------

H18_QTY_THRESHOLD = 250
H22_CUTOFF = "2000-01-01"


def _dp() -> F.Column:
    """Decimal-exact discounted price: extendedprice * (1 - discount)."""
    return F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")
    )


_DP_SQL = (
    "CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (1 - CAST(l_discount AS DECIMAL(18,2)))"
)


def q_h8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market share (TPC-H Q8 shape): NATION_3 suppliers' share of ASIA
    customers' yearly revenue. Two independent dimension subtrees
    (customer-nation⋈region filter; supplier⋈nation name) are broadcast
    onto the lineitem⋈orders⋈customer fact spine — the two fact joins
    shuffle on their natural keys, the four dimension joins move no
    fact data. Share is computed from the ROUNDED totals so both
    engines divide identical doubles."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    supp = _t(spark, sf_dir, "supplier")
    cust_nat = nat.join(
        F.broadcast(reg), nat.n_regionkey == reg.r_regionkey
    ).select(F.col("n_nationkey").alias("cn_key"))
    supp_nat = supp.join(
        F.broadcast(
            nat.select(
                F.col("n_nationkey").alias("sn_key"),
                F.col("n_name").alias("supp_nation"),
            )
        ),
        F.col("s_nationkey") == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")
    dp = _dp()
    zero = F.lit(0).cast("decimal(18,2)")
    agg = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cust_nat), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(supp_nat), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_3", dp).otherwise(zero)
            ).alias("__nation_rev"),
            F.sum(dp).alias("__total_rev"),
        )
    )
    # share of two exact decimal sums is a rational — integer ppm
    # (functions/exact.py), never round(,6): the half-way class
    return agg.select(
        "o_year",
        F.col("__nation_rev").cast("double").alias("nation_rev"),
        F.col("__total_rev").cast("double").alias("total_rev"),
        X.ratio_ppm(F.col("__nation_rev"), F.col("__total_rev")).alias(
            "mkt_share_ppm"
        ),
    )


def q_h12_late_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-lag audit (TPC-H Q12 shape): per order priority, how
    many lineitems shipped more than 60 days after the order date. One
    fact-fact shuffle join on the order key, counters as conditional
    aggregates in the same pass — no second scan for the ratio."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    late = (
        F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date"))
        > 60
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.sum(F.when(late, 1).otherwise(0)).alias("n_late"),
            F.count(F.lit(1)).alias("n_total"),
        )
        .withColumn(
            # count/count → exact integer ppm, not a 6dp round (the
            # half-way class: n_total = 2^7·5^j ties exactly at 6dp)
            "late_ppm",
            X.ratio_ppm(F.col("n_late"), F.col("n_total")),
        )
    )


def q_h14_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promo revenue share (TPC-H Q14 shape) per ship-year: percentage
    of discounted revenue coming from PROMO-type parts. lineitem⋈part
    shuffles on the part key (both sides pruned to the 4 needed
    columns); the share again divides pre-rounded doubles."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    dp = _dp()
    zero = F.lit(0).cast("decimal(18,2)")
    agg = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.year("l_shipdate").cast("int").alias("ship_year"))
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", dp).otherwise(zero))
            .alias("__promo_rev"),
            F.sum(dp).alias("__total_rev"),
        )
    )
    # share of exact decimal sums → integer ppm (functions/exact.py);
    # the old promo_pct (= 100·share rounded 6dp) was the half-way
    # class. r13: the revenue sums publish as exact scale-4 integer
    # units too — the double casts sat at 0.975·2^52 after the 1e6
    # boundary-audit scaling (ulp 0.5 — no sub-unit resolution), the
    # audit's large-identical-path artifact class; integers retire the
    # cells outright.
    return agg.select(
        "ship_year",
        (F.col("__promo_rev") * 10000).cast("long").alias("promo_rev_e4"),
        (F.col("__total_rev") * 10000).cast("long").alias("total_rev_e4"),
        X.ratio_ppm(F.col("__promo_rev"), F.col("__total_rev")).alias(
            "promo_share_ppm"
        ),
    )


def q_h18_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume orders (TPC-H Q18 shape): orders whose summed
    lineitem quantity reaches the threshold, with their customer. The
    quantity pre-aggregation shuffles lineitem ONCE on l_orderkey and
    shrinks it to one row per qualifying order before any join —
    the orders join then moves only the survivors."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_qty")
        )
        .filter(F.col("total_qty") >= H18_QTY_THRESHOLD)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_totalprice",
            "total_qty",
        )
    )


def q_h19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunctive scan predicate (TPC-H Q19 shape): revenue from three
    OR'd brand/size/quantity clauses. One lineitem⋈part equi-join on
    the part key with the disjunction applied post-join — Catalyst
    cannot push an OR across both sides, but each branch's part-side
    conjuncts stay evaluable in the joined row without a second scan."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    qty = F.col("l_quantity")
    cond = (
        (
            (F.col("p_brand") == "Brand#4")
            & (F.col("p_size") <= 10)
            & qty.between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#19")
            & (F.col("p_size") <= 20)
            & qty.between(10, 30)
        )
        | ((F.col("p_type") == "PROMO") & (qty >= 25))
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dp()).cast("double").alias("revenue"),
        )
    )


def q_h22_idle_rich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dormant high-balance customers (TPC-H Q22 shape): per nation,
    customers above the global positive-average balance with no order
    since the cutoff. The average-balance comparison is the decimal
    cross-multiply (bal * n_pos > sum_pos) so no float division ever
    happens; the "no recent order" test is a left-anti join against
    the pre-filtered, pre-distinct order keys — at scale that side
    collapses to distinct custkeys before shuffling."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    nat = _t(spark, sf_dir, "nation")
    bal = F.col("c_acctbal").cast("decimal(18,2)")
    pos = cust.filter(F.col("c_acctbal") > 0).agg(
        F.count(F.lit(1)).alias("__n_pos"),
        F.sum(bal).alias("__sum_pos"),
    )
    recent = (
        orders.filter(
            F.col("o_orderdate").cast("date") >= F.lit(H22_CUTOFF).cast("date")
        )
        .select("o_custkey")
        .distinct()
    )
    return (
        cust.crossJoin(F.broadcast(pos))
        .filter(bal * F.col("__n_pos") > F.col("__sum_pos"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.round(F.sum(bal).cast("double"), 2).alias("total_bal"),
        )
    )


def q_w7_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) event-time window: 1-hour windows advancing
    every 30 minutes — each event lands in exactly 2 windows. Spark's
    native F.window(slideDuration) expands rows window-count-fold
    BEFORE the shuffle (an Expand node, map-side), so the aggregation
    is still one shuffle; the same call is streaming-capable with a
    watermark."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), _dsum("value").alias("sum_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm").alias("win_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def q_h13_order_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order-count distribution (TPC-H Q13 shape): histogram
    of customers by how many orders they placed, zeros included. The
    left join keeps order-less customers; both aggregations keep
    map-side partials, and the second groupBy's key space (distinct
    order counts) is tiny so the final shuffle is negligible."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("n_custs")
    )


def q_h15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top supplier (TPC-H Q15 shape): supplier(s) with the maximum
    revenue over a ship-date quarter. The per-supplier aggregate
    shrinks lineitem to one row per supplier BEFORE the max is taken;
    the global max is a 1-row broadcast cross join (never a sort of
    the aggregate), and ties all surface."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate").cast("date") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate").cast("date") < F.lit("1996-04-01").cast("date"))
    )
    supp = _t(spark, sf_dir, "supplier")
    rev = (
        li.groupBy("l_suppkey")
        .agg(F.sum(_dp()).cast("double").alias("total_revenue"))
    )
    top = rev.agg(F.max("total_revenue").alias("__mx"))
    return (
        rev.crossJoin(F.broadcast(top))
        .filter(F.col("total_revenue") == F.col("__mx"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


def q_h17_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-quantity-order revenue (TPC-H Q17 shape): average yearly
    revenue lost if orders below 20% of a part's average quantity were
    not taken. The per-part average is ONE window pass over the
    lineitem shuffle on l_partkey (no self-join, no correlated
    subquery), and the 20%-of-average comparison is the decimal
    cross-multiply qty*5*n < sum — no float division before the
    filter."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#4")
    w = Window.partitionBy("l_partkey")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    stats = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .withColumn("__n", F.count(F.lit(1)).over(w))
        .withColumn("__sum_qty", F.sum(qty).over(w))
    )
    return (
        stats.filter(qty * 5 * F.col("__n") < F.col("__sum_qty"))
        .agg(
            F.round(
                (
                    F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                    / F.lit(7)
                ).cast("double"),
                2,
            ).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def q_r3_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS ((event_type), (dow), ()) with
    grouping_id — the hand-picked subset of CUBE's lattice, still ONE
    Expand + one shuffle (no per-set re-scan). grouping_id
    disambiguates real NULL keys from rolled-up ones."""
    ev = _t(spark, sf_dir, "events")
    ev.createOrReplaceTempView("__ev_gs")
    return spark.sql(
        """
        SELECT coalesce(event_type, 'ALL') AS event_type,
               coalesce(CAST(dow AS STRING), 'ALL') AS dow,
               CAST(grouping_id() AS INT) AS gid,
               count(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM (SELECT event_type, dayofweek(ts) - 1 AS dow, value
              FROM __ev_gs)
        GROUP BY event_type, dow
          GROUPING SETS ((event_type), (dow), ())
        """
    )


def q_w8_value_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-window functions over explicit frames: first/last/nth
    order value per customer in o_orderkey order — last_value over the
    default frame is the RUNNING last (frame ends at current row), the
    classic window-frame trap, asserted deterministic via the unique
    order key."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    wfull = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w).alias("running_last_price"),
        F.last("o_totalprice").over(wfull).alias("final_price"),
        F.nth_value("o_totalprice", 2).over(wfull).alias("second_price"),
    )


def q_arr_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar array-function surface over tokenized documents: size,
    slice+join, min/last element, membership, 1-based position
    (normalized to 0-when-missing across engines), distinct count,
    sorted head — all codegen collection expressions, no explode."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), " ")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_toks"),
        F.array_join(F.slice(toks, 1, 3), "-").alias("first3"),
        F.array_min(toks).alias("tok_min"),
        F.element_at(toks, -1).alias("tok_last"),
        F.array_contains(toks, "the").cast("int").alias("has_the"),
        F.array_position(toks, "the").alias("pos_the"),
        F.size(F.array_distinct(toks)).alias("n_uniq"),
        F.array_join(F.slice(F.sort_array(toks), 1, 3), "-").alias(
            "sorted_head3"
        ),
    )


KMEANS_K = 4
KMEANS_ITERS = 2


def q_emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic integer k-means over the embeddings table
    (operators/similarity.py::kmeans_clusters): Lloyd's iterations in
    exact micro-unit arithmetic — lowest-id init, floor-mean updates,
    (dist, cluster) tie-break — so the clustering is bit-reproducible
    in any engine."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.kmeans_clusters(
        emb, "vec_id", "embedding", k=KMEANS_K, iterations=KMEANS_ITERS
    )


def q_json_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar JSON surface over the events props payload: path
    extraction (typed + string), existence, and a derived bucket —
    JVM-side get_json_object, no UDFs, pushdown-friendly."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    return ev.select(
        "event_id",
        k.cast("int").alias("k_val"),
        k.isNotNull().cast("int").alias("has_k"),
        (k.cast("int") % 10).alias("k_mod10"),
        F.length("props").cast("int").alias("raw_len"),
    )


def q_f1_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-step funnel: users who viewed, then clicked after the
    view, then purchased after the click. One pass: conditional-min
    timestamps per user (single shuffle on user_id), then the ordering
    constraints as plain filters on the 1-row-per-user aggregate —
    no per-step self-joins (the naive funnel is k-1 joins over the
    full event table)."""
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))

    def step_min(step: str) -> F.Column:
        return F.min(F.when(F.col("event_type") == step, us))

    per_user = ev.groupBy("user_id").agg(
        step_min("view").alias("t_view"),
        step_min("click").alias("t_click"),
        step_min("purchase").alias("t_purchase"),
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when(F.col("t_view").isNotNull(), 1).otherwise(0)).alias(
            "n_viewed"
        ),
        F.sum(
            F.when(
                F.col("t_view").isNotNull()
                & (F.col("t_click") > F.col("t_view")),
                1,
            ).otherwise(0)
        ).alias("n_clicked_after"),
        F.sum(
            F.when(
                F.col("t_view").isNotNull()
                & (F.col("t_click") > F.col("t_view"))
                & (F.col("t_purchase") > F.col("t_click")),
                1,
            ).otherwise(0)
        ).alias("n_purchased_after"),
    )


def q_f2_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity week,
    counted distinct per (cohort_week, weeks_since). Two aggregations,
    both shuffling only (user, week)-grain rows — the event table is
    scanned once, collapsed to user-weeks map-side."""
    ev = _t(spark, sf_dir, "events")
    week = F.floor(
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        / 7
    ).cast("int")
    uw = ev.select("user_id", week.alias("week")).distinct()
    first = uw.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        uw.join(first, "user_id")
        .groupBy("cohort_week", (F.col("week") - F.col("cohort_week")).alias(
            "weeks_since"
        ))
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


# ---------------------------------------------------------------------------
# Training-pipeline operators, third wave: sequence packing and
# benchmark decontamination
# ---------------------------------------------------------------------------

SEQ_TOKEN_BUDGET = 256
DECON_SHINGLE_K = 3
DECON_MIN_SHARED = 3


# Z-order machinery lives in operators/layout.py (with the write-side
# `write_zordered` + `file_extents` pair that proves the data-skipping
# claim); the audit query here shares its exact expression builders.
from broadway_spark.operators.layout import Z_BITS  # noqa: E402
from broadway_spark.operators.layout import (  # noqa: E402
    zorder_expr as _zorder_expr,
    znorm_expr as _znorm_expr,
)

Z_BUCKETS = 64  # z-range buckets reported


def q_pack_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER LAYOUT (the Delta/Iceberg OPTIMIZE ZORDER primitive):
    range-normalize (l_partkey, l_suppkey) onto a 2^{Z_BITS}-wide grid
    from a broadcast 1-row bounds aggregate, interleave the bits into
    a Morton code, range-bucket the code, and report each bucket's
    row count and BOTH dimensions' min/max extents — the per-file
    column stats a z-ordered rewrite would produce, whose narrow
    extents on EITHER key are exactly what makes data skipping work.
    Pure codegen integer arithmetic (no UDF, engine-portable), one
    corpus scan for bounds + one for codes, one partial-agg shuffle
    down to ≤{Z_BUCKETS} rows. At 100 TB this is the layout pass
    before a repartitionByRange(z) write; the extents audit is what
    you'd alert on."""
    li = _t(spark, sf_dir, "lineitem")
    bounds = li.agg(
        F.min("l_partkey").cast("bigint").alias("pk_lo"),
        F.max("l_partkey").cast("bigint").alias("pk_hi"),
        F.min("l_suppkey").cast("bigint").alias("sk_lo"),
        F.max("l_suppkey").cast("bigint").alias("sk_hi"),
    )
    step = (1 << (2 * Z_BITS)) // Z_BUCKETS
    xn = _znorm_expr("l_partkey", "pk_lo", "pk_hi", "DIV")
    yn = _znorm_expr("l_suppkey", "sk_lo", "sk_hi", "DIV")
    zb = F.expr(
        f"CAST(({_zorder_expr(xn, yn, 'DIV')}) DIV {step} AS BIGINT)"
    )
    return (
        li.crossJoin(F.broadcast(bounds))
        .select(zb.alias("z_bucket"), "l_partkey", "l_suppkey")
        .groupBy("z_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_partkey").alias("pk_min"),
            F.max("l_partkey").alias("pk_max"),
            F.min("l_suppkey").alias("sk_min"),
            F.max("l_suppkey").alias("sk_max"),
        )
    )


SHARD_N = 16  # training-export shards


def q_pack_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINING-EXPORT SHARD MANIFEST (r10): assign every document to
    one of SHARD_N globally balanced shards in a deterministic
    curriculum order — (lang, n_chars DESC, doc_id) — and report each
    shard's manifest row: count, doc_id span, decimal-exact char
    volume. The export step of a training-data pipeline: shard sizes
    balanced to ±1 BY CONSTRUCTION (exact ntile semantics), stable
    assignment, the manifest as the trainer's contract.

    Scale shape: operators/ranking.with_exact_ntile — range-partition
    + closed-form tile (the r10 distributed-rank operator), NOT an
    un-partitioned ntile window; no single task ever holds the corpus.
    The oracle twin is DuckDB's plain ntile(16) window — bit-identical
    by the operator's equivalence proof (tests/test_round10_ops)."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    tiled = RK.with_exact_ntile(
        docs,
        [
            F.col("lang").asc(),
            F.col("n_chars").desc(),
            F.col("doc_id").asc(),
        ],
        SHARD_N,
        "shard",
    )
    return tiled.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
        # widen INSIDE the sum (r9 overflow rule): char counts are
        # small but the doc count is unbounded
        F.sum(F.col("n_chars").cast("decimal(38,0)"))
        .cast("long")
        .alias("sum_chars"),
    )


# Benford first-digit expectation, ppm = round(log10(1 + 1/d) * 1e6).
# LITERALS (not computed) so Spark and DuckDB can never diverge on a
# libm log10 ulp; the formula is pinned by tests/test_round10_ops.py.
BENFORD_PPM = (
    (1, 301030),
    (2, 176091),
    (3, 124939),
    (4, 96910),
    (5, 79181),
    (6, 66947),
    (7, 57992),
    (8, 51153),
    (9, 45757),
)


def q_agg_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit over order totals — the classic
    data-quality screen for fabricated/duplicated numeric columns in
    an ingested corpus: observed first-significant-digit frequency
    (integer ppm) vs the Benford expectation, with the absolute
    deviation per digit. Digits come from exact integer cents
    (DECIMAL(18,2)·100 → BIGINT → leading char of the decimal string),
    never from float log10 — portable bit-for-bit across engines.

    Scale shape: one scan → 9-group hash aggregate (map-side partials)
    + a broadcast 1-row total; the ppm division is DECIMAL(38,0)
    integer math (the r9 overflow rule — n·1e6 would pass 2^63 near
    10¹³ rows)."""
    orders = _t(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast(
        "bigint"
    )
    base = orders.select(cents.alias("cents")).filter(F.col("cents") > 0)
    digits = (
        base.select(
            F.substring(F.col("cents").cast("string"), 1, 1)
            .cast("int")
            .alias("first_digit")
        )
        .groupBy("first_digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = base.agg(F.count(F.lit(1)).alias("__tot"))
    exp_case = (
        "CASE first_digit "
        + " ".join(f"WHEN {d} THEN {p}" for d, p in BENFORD_PPM)
        + " END"
    )
    return (
        digits.crossJoin(F.broadcast(total))
        .select(
            "first_digit",
            "n",
            F.expr(
                "CAST((n * CAST(1000000 AS DECIMAL(38,0))) DIV __tot"
                " AS BIGINT)"
            ).alias("observed_ppm"),
            F.expr(f"CAST({exp_case} AS BIGINT)").alias("expected_ppm"),
        )
        .withColumn(
            "deviation_ppm",
            F.expr("CAST(abs(observed_ppm - expected_ppm) AS BIGINT)"),
        )
    )


CURRICULUM_SEED = 31
# tier 1/2/3 lower bounds in integer ppm (else tier 4): the cut
# compares the EXACT integer quality_ppm, never a rounded double —
# the 6dp half-way class round(q, 6) >= 0.75 would flip a mid-tier
# doc's tier invisibly (r10 ADVICE); floor(q·1e6) >= cut_ppm is the
# same predicate as exact q >= cut with zero rounding involved.
CURRICULUM_TIER_CUTS_PPM = (750000, 500000, 250000)


def q_pipeline_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-ordered training manifest: score every document with
    the deterministic quality heuristic, cut into 4 quality tiers
    (clean prose first), shuffle WITHIN each tier by a portable
    doc-id hash (reproducible across runs/engines/partitionings —
    rand() is none of those), and assign each doc its exact global
    curriculum position. Output is the per-tier manifest: count,
    position span (contiguity = the tiers really are ordered blocks),
    decimal-exact token volume, quality bounds, and an order checksum
    Σ (position·hash mod 1000003) that pins EVERY doc's exact position
    — a reordered shuffle cannot hash-match.

    Scale shape: the position is operators/ranking.global_rank (range
    partition + broadcast offsets — the r10 distributed-rank
    operator), NOT an un-partitioned row_number window; the checksum
    terms are bounded < 1000003 so their BIGINT sum is safe past 10¹²
    docs."""
    docs = _t(spark, sf_dir, "documents")
    qp = T.quality_ppm("text")
    t1, t2, t3 = CURRICULUM_TIER_CUTS_PPM
    scored = docs.select(
        "doc_id",
        T.token_count("text").alias("n_tokens"),
        qp.alias("quality_ppm"),
        F.when(qp >= t1, 1)
        .when(qp >= t2, 2)
        .when(qp >= t3, 3)
        .otherwise(4)
        .alias("tier"),
        H.portable_hash(
            F.col("doc_id").cast("string"), seed=CURRICULUM_SEED
        ).alias("__h"),
    )
    ranked, _n = RK.global_rank(
        scored,
        [F.col("tier").asc(), F.col("__h").asc(), F.col("doc_id").asc()],
        rank_col="position",
    )
    return ranked.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("position").alias("first_pos"),
        F.max("position").alias("last_pos"),
        F.sum(F.col("n_tokens").cast("decimal(38,0)"))
        .cast("long")
        .alias("sum_tokens"),
        # floor·1e6 is monotone, so min/max commute with the ppm map —
        # the tier bounds are the same documents', now exact integers
        F.min("quality_ppm").alias("min_quality_ppm"),
        F.max("quality_ppm").alias("max_quality_ppm"),
        F.sum(
            F.expr(
                "CAST((CAST(position AS DECIMAL(38,0)) * __h) % 1000003"
                " AS BIGINT)"
            )
        )
        .cast("long")
        .alias("order_checksum"),
    )


VOCAB_COVERAGE_KS = (5, 10, 25, 50)


def q_text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-design coverage curve: what fraction of all corpus
    token OCCURRENCES (integer ppm) the top-k most frequent vocabulary
    types cover, at k ∈ VOCAB_COVERAGE_KS — the statistic that sizes a
    vocabulary / decides a BPE merge budget. Frequency ranking is
    (count DESC, token ASC) so top-k sets are engine-independent.

    Scale shape: one explode + one (token) hash aggregate, then
    operators/ranking.global_rank over the VOCABULARY (types, not
    occurrences — but a web-scale type table still passes 10⁸ rows,
    which is exactly why it must not be an un-partitioned window);
    the coverage sums fold into ONE single-row aggregate unpivoted by
    stack() — no second scan, no per-k job."""
    docs = _t(spark, sf_dir, "documents")
    counts = (
        docs.select(
            F.explode(F.split(F.lower("text"), " ")).alias("token")
        )
        .filter(F.length("token") >= 1)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ranked, _n = RK.global_rank(
        counts,
        [F.col("n").desc(), F.col("token").asc()],
        rank_col="rank",
    )
    cov = [
        F.sum(
            F.when(
                F.col("rank") <= k, F.col("n").cast("decimal(38,0)")
            )
        ).alias(f"c{k}")
        for k in VOCAB_COVERAGE_KS
    ]
    row = ranked.agg(
        *cov,
        F.sum(F.col("n").cast("decimal(38,0)")).alias("__tot"),
        F.count(F.lit(1)).alias("__vocab"),
    )
    stack_args = ", ".join(f"{k}, c{k}" for k in VOCAB_COVERAGE_KS)
    return row.select(
        F.expr(
            f"stack({len(VOCAB_COVERAGE_KS)}, {stack_args})"
            " AS (top_k, covered)"
        ),
        "__tot",
        "__vocab",
    ).select(
        F.col("top_k").cast("int").alias("top_k"),
        F.coalesce(F.col("covered"), F.lit(0))
        .cast("bigint")
        .alias("covered_tokens"),
        F.expr(
            "CAST((coalesce(covered, 0) * CAST(1000000 AS DECIMAL(38,0)))"
            " DIV __tot AS BIGINT)"
        ).alias("covered_ppm"),
        F.col("__vocab").cast("bigint").alias("vocab_size"),
    )


def q_ts_seasonal_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality index per event type: each (type, day)
    cell's mean value relative to the type's overall mean, in exact
    integer ppm — the weekly-seasonality profile behind traffic
    forecasting and anomaly baselines. The day index is pure epoch
    arithmetic (days-since-1970 mod 7; 0 = Thursday), NOT a calendar
    function — dayofweek()'s week-start convention differs across
    engines, epoch math cannot.

    Scale shape: two partial-agg rollups of one scan (per-cell and
    per-type) joined on the tiny type key — broadcast at any scale;
    the ppm ratio is DECIMAL(38,0) integer math (cents·count·1e6 stays
    under 1e35 past 10¹² rows; value/ts are nonnegative by domain so
    truncating DIV == floor on both engines)."""
    ev = _t(spark, sf_dir, "events")
    day_idx = F.expr(
        "CAST(pmod(unix_micros(ts) DIV 86400000000, 7) AS INT)"
    )
    cents = F.expr(
        "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))"
    )
    per = ev.groupBy("event_type", day_idx.alias("day_idx")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("__s"),
    )
    tot = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(cents).alias("__st"),
    )
    return per.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "day_idx",
        "n",
        # cents-sum / count → exact integer ppm of the value mean
        # (functions/exact.py), not round(,6): the half-way class
        X.ratio_ppm(F.col("__s"), F.col("n") * 100).alias("mean_value_ppm"),
        F.expr(
            "CAST((__s * n_total * CAST(1000000 AS DECIMAL(38,0)))"
            " DIV (CAST(n AS DECIMAL(38,0)) * __st) AS BIGINT)"
        ).alias("seasonal_ppm"),
    )


def q_evt_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user burstiness profile: coefficient of variation of the
    inter-event gaps (std/mean; CV≈1 is Poisson, >1 bursty, <1
    regular) for users with ≥5 gaps — the traffic-shape feature behind
    bot detection and session modeling. Gaps are exact integer
    microseconds from the per-user lag; Σgap and Σgap² are exact
    decimal sums, and the mean gap is reported as an exact integer
    DIV — Σgap/n is a terminating decimal, so a rounded-double mean
    WOULD land on 6dp half-way cases where the engines' round()
    disagrees (caught by the r10 sf1 volume ritual: 10/15000 rows off
    by 1 ulp in the 6th digit). IEEE enters only for the irrational
    cv (the evt_zscore discipline).

    Scale shape: one lag() window keyed on user_id (never global),
    one per-user aggregate; gap² ≤ 1e25 per term → DECIMAL(38,0) is
    safe past 10¹² events per user-month."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (
            F.expr("unix_micros(ts)")
            - F.lag(F.expr("unix_micros(ts)")).over(w)
        ).alias("gap_us"),
    ).where(F.col("gap_us").isNotNull())
    agg = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum(F.col("gap_us").cast("decimal(38,0)")).alias("__s"),
        F.sum(
            F.col("gap_us").cast("decimal(38,0)")
            * F.col("gap_us").cast("decimal(38,0)")
        )
        .cast("double")
        .alias("__q"),
    )
    n = F.col("n_gaps").cast("double")
    s = F.col("__s").cast("double")
    mean = s / n
    var = F.greatest((F.col("__q") - s * s / n) / n, F.lit(0.0))
    return agg.filter(F.col("n_gaps") >= 5).select(
        "user_id",
        "n_gaps",
        F.expr("CAST(__s DIV n_gaps AS BIGINT)").alias("mean_gap_us"),
        F.round(F.sqrt(var) / mean, 6).alias("cv"),
    )


MM_PACK_BUDGET = 16384  # bytes per assembled media batch


def q_multimodal_pack_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal batch assembly under a byte budget: pack each
    modality's media payloads (doc-id order) into training/inference
    batches of ≤~16 KiB cumulative payload — the GPU-batch builder of
    a multimodal pipeline, where batch boundaries are byte-budget,
    not row-count. Reuses the budget splitter
    (operators/batching.chunk_by_budget — the reference's
    {init_acc, fun} custom batcher, options.ex:233-264) keyed on the
    modality; reports each batch's manifest row.

    Scale shape: the packing ORDER is a per-modality contract but the
    COMPUTE is not — chunk_by_budget_distributed (operators/batching)
    range-partitions the (media_type, doc_id) stream, sums each range
    block's bytes, broadcasts per-block cumulative offsets, and
    derives the chunk id closed-form: prefix sums compose exactly
    across blocks, so the two-value media_type domain never bounds
    parallelism (the r10 verdict's one weak plan, now fixed the same
    way ranking.global_rank fixed the global-ntile funnel). Payload
    bytes are metadata (byte_len) — the binary column itself never
    shuffles."""
    from broadway_spark.operators import multimodal as MM

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("content")
    )
    media = MM.attach_media(docs, "content", "image/stub").withColumn(
        "media_type",
        F.when(F.col("doc_id") % 2 == 0, F.lit("image/stub")).otherwise(
            F.lit("audio/stub")
        ),
    )
    packed = B.chunk_by_budget_distributed(
        media.select("media_type", "doc_id", "byte_len"),
        ["media_type"],
        "doc_id",
        "byte_len",
        MM_PACK_BUDGET,
    )
    return packed.groupBy(
        "media_type", F.col("chunk_id").alias("batch_id")
    ).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("byte_len").cast("decimal(38,0)"))
        .cast("long")
        .alias("total_bytes"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


EPOCH_SHUFFLE_N = 3
EPOCH_SHUFFLE_SEED = 41


def q_pack_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-epoch deterministic reshuffle: each training epoch orders
    the corpus by a portable hash salted with the epoch number —
    reproducible across runs/engines (rand() is neither), different
    across epochs. Per epoch: the exact position span (1..n proves a
    permutation), the order checksum Σ(position·hash mod 1000003)
    pinning every doc's slot, and the fixed-point count vs the
    previous epoch (docs landing in the SAME slot twice — ~n/n! by
    chance, so a nonzero pile-up means the salt failed).

    Scale shape: ONE distributed global rank over (epoch, hash, id) —
    epochs are contiguous equal-size blocks of that total order, so
    per-epoch position = global rank − epoch·n with n known
    driver-side; NO per-epoch window partitioned 3 ways (that would
    put the whole corpus in one task). The fixed-point check is an
    equi-join on (doc_id, position-slot)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    epochs = docs.select(
        "doc_id",
        F.explode(
            F.array(*[F.lit(e) for e in range(EPOCH_SHUFFLE_N)])
        ).alias("epoch"),
    ).select(
        "doc_id",
        "epoch",
        H.portable_hash(
            F.concat_ws(":", F.col("epoch"), F.col("doc_id")),
            seed=EPOCH_SHUFFLE_SEED,
        ).alias("__h"),
    )
    ranked, total = RK.global_rank(
        epochs,
        [F.col("epoch").asc(), F.col("__h").asc(), F.col("doc_id").asc()],
        rank_col="__gr",
    )
    n = total // EPOCH_SHUFFLE_N
    pos = ranked.select(
        "doc_id",
        "epoch",
        "__h",
        (F.col("__gr") - F.col("epoch") * F.lit(n)).alias("position"),
    )
    prev = pos.select(
        "doc_id",
        (F.col("epoch") + 1).alias("epoch"),
        F.col("position").alias("__prev_pos"),
    )
    fixed = (
        pos.join(prev, ["doc_id", "epoch"])
        .where(F.col("position") == F.col("__prev_pos"))
        .groupBy("epoch")
        .agg(F.count(F.lit(1)).alias("__fx"))
    )
    per_epoch = pos.groupBy("epoch").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("position").alias("first_pos"),
        F.max("position").alias("last_pos"),
        F.sum(
            F.expr(
                "CAST((CAST(position AS DECIMAL(38,0)) * __h) % 1000003"
                " AS BIGINT)"
            )
        )
        .cast("long")
        .alias("order_checksum"),
    )
    return per_epoch.join(F.broadcast(fixed), "epoch", "left").select(
        "epoch",
        "n_docs",
        "first_pos",
        "last_pos",
        "order_checksum",
        F.coalesce(F.col("__fx"), F.lit(0))
        .cast("bigint")
        .alias("fixed_vs_prev"),
    )


def q_dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source content-overlap matrix: for every
    (source_a ≤ source_b) pair, how many winnowing fingerprints
    (SIGMOD'03 MOSS — the partial-copy detector) the two feeds share,
    and the total (docA, docB, fingerprint) coincidence weight that
    implies — the provenance diagnostic that tells a curation team
    which feeds mirror which before near-dedup even runs.

    Scale shape: overlap weights come from per-(fingerprint, source)
    COUNTS — n_a·n_b and C(n,2) arithmetic, never a doc×doc join — so
    a fingerprint present in a million docs costs one row per source,
    not 10¹² pairs. The fp self-join is equi-keyed with per-key
    cardinality ≤ |sources|; products widen to DECIMAL(38,0) (the r9
    overflow rule); the BIGINT output bound (~4·10⁹ docs sharing ONE
    fingerprint within ONE source pair) is documented, not branched."""
    docs = _t(spark, sf_dir, "documents")
    cnt = (
        docs.select(
            "source",
            F.explode(T.winnow_fingerprints("text")).alias("fp"),
        )
        .groupBy("fp", "source")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    a = cnt.select(
        "fp", F.col("source").alias("src_a"), F.col("n").alias("na")
    )
    b = cnt.select(
        "fp", F.col("source").alias("src_b"), F.col("n").alias("nb")
    )
    pairs = (
        a.join(b, "fp")
        .where(F.col("src_a") <= F.col("src_b"))
        .select(
            "src_a",
            "src_b",
            F.expr(
                "CASE WHEN src_a = src_b"
                " THEN (CAST(na AS DECIMAL(38,0)) * (na - 1)) DIV 2"
                " ELSE CAST(na AS DECIMAL(38,0)) * nb END"
            ).alias("dp"),
        )
        .where(F.col("dp") > 0)
    )
    return pairs.groupBy("src_a", "src_b").agg(
        F.count(F.lit(1)).alias("n_shared_fps"),
        F.sum("dp").cast("long").alias("overlap_weight"),
    )


def q_evt_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution per signup cohort: for each user,
    the gap from their FIRST signup to their first purchase AFTER it,
    cohorted by the signup's epoch week — the activation-latency curve
    behind growth dashboards. The cohort key is epoch arithmetic
    (days-since-1970 DIV 7), not a calendar function (the
    ts_seasonal_dow portability rule); the mean gap is an exact
    integer DIV (the evt_burstiness half-way-rounding rule); p50/p90
    are DISCRETE percentiles — the element at rank ⌈p·n⌉, an exact
    integer — because INTERPOLATED percentiles over ~10¹²-magnitude
    integers differ across engines by ulps visible at any fixed
    rounding (f·(b−a) with b−a ~ 10¹² has ulp ~10⁻⁴; caught live at
    sf0.01 before this query ever shipped).

    Scale shape: NO per-user arrays — the old form collect_list'ed
    every purchase timestamp per user, so one bot account with 10⁷
    purchases meant a 10⁷-element array in a single aggregation
    buffer (the r10 verdict's watch item). Now: first-signup
    aggregate per user, rejoin to the purchase stream (shuffle on
    user_id both sides), min-if aggregate — two scalar aggregates,
    state bounded at one row per user regardless of purchase count.
    The discrete-percentile rank runs on the distributed prefix-sum
    core (cohort_week is calendar-bounded while rows per cohort grow
    with the corpus — a per-cohort window would funnel each week
    through one task); per-cohort counts broadcast."""
    return _time_to_convert(_t(spark, sf_dir, "events"))


def _time_to_convert(ev: DataFrame) -> DataFrame:
    """The shared conversion-latency pipeline (see q_evt_time_to_convert
    for semantics and scale shape) — also driven by the hot-user edge
    query, whose derivation collapses every purchase onto one bot
    account to prove per-user state stays one row."""
    us = F.expr("unix_micros(ts)")
    signup = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(us).alias("__signup_us"))
    )
    gap = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", us.alias("__p_us"))
        .join(signup, "user_id")
        .groupBy("user_id", "__signup_us")
        .agg(
            F.min(
                F.when(
                    F.col("__p_us") >= F.col("__signup_us"),
                    F.col("__p_us"),
                )
            ).alias("__conv_us")
        )
        .where(F.col("__conv_us").isNotNull())
    )
    gaps = gap.select(
        F.expr(
            "CAST(__signup_us DIV (86400000000 * 7) AS INT)"
        ).alias("cohort_week"),
        (F.col("__conv_us") - F.col("__signup_us")).alias("gap_us"),
        "user_id",
    )
    n_df = gaps.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    ranked = B.running_sums_distributed(
        gaps,
        ["cohort_week"],
        [F.col("gap_us").asc(), F.col("user_id").asc()],
        {"__rk": F.lit(1).cast("long")},
    ).join(F.broadcast(n_df), "cohort_week")
    # discrete percentile rank: ⌈p·n⌉ in pure integer math
    return ranked.groupBy("cohort_week").agg(
        F.max("__n").cast("long").alias("n_converted"),
        F.expr(
            "CAST(SUM(CAST(gap_us AS DECIMAL(38,0))) DIV COUNT(1)"
            " AS BIGINT)"
        ).alias("mean_gap_us"),
        F.max(
            F.when(
                F.col("__rk") == F.expr("(__n + 1) DIV 2"),
                F.col("gap_us"),
            )
        ).alias("p50_gap_us"),
        F.max(
            F.when(
                F.col("__rk") == F.expr("(9 * __n + 9) DIV 10"),
                F.col("gap_us"),
            )
        ).alias("p90_gap_us"),
    )


def q_agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust pricing stats per order priority: the p05/p95-winsorized
    mean next to the raw mean — the outlier-resistant aggregate a
    curation pipeline reports when a column has heavy tails. Bounds
    come from the exact interpolated percentile (one sort-based
    aggregate per group, the agg_percentiles portability contract);
    rows are clamped, rounded to 6dp, and summed as DECIMAL(18,6) so
    the mean is order-independent on both engines.

    Scale shape: the bounds table is |priority-domain| rows →
    broadcast join back to the fact scan; no row-level window, no
    second sort."""
    orders = _t(spark, sf_dir, "orders")
    bounds = orders.groupBy("o_orderpriority").agg(
        F.expr(
            "percentile(o_totalprice, array(0.05D, 0.95D))"
        ).alias("__b"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("__raw_sum"),
    )
    bounds = bounds.select(
        "o_orderpriority",
        "n",
        "__raw_sum",
        F.element_at("__b", 1).alias("__lo"),
        F.element_at("__b", 2).alias("__hi"),
    )
    clamped = F.round(
        F.least(
            F.greatest(F.col("o_totalprice"), F.col("__lo")),
            F.col("__hi"),
        ),
        6,
    ).cast("decimal(18,6)")
    wins = (
        orders.join(F.broadcast(bounds), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.max("n").alias("n"),
            # p05/p95 round identical IEEE doubles on both engines
            # (identical exact inputs → identical interpolation) — not
            # the rational-ratio class; the MEANS below are, so they
            # publish exact integer ppm of the decimal sums instead
            F.round(F.max("__lo"), 6).alias("p05"),
            F.round(F.max("__hi"), 6).alias("p95"),
            F.max("__raw_sum").alias("__rs"),
            F.sum(clamped).alias("__ws"),
        )
    )
    return wins.select(
        "o_orderpriority",
        "n",
        "p05",
        "p95",
        X.ratio_ppm(F.col("__rs"), F.col("n")).alias("mean_raw_ppm"),
        X.ratio_ppm(F.col("__ws"), F.col("n")).alias("mean_winsorized_ppm"),
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing: greedily pack documents (in doc_id
    order, per language) into sequences of ~SEQ_TOKEN_BUDGET tokens —
    the contiguous-greedy packing a streaming tokenizer does when
    building fixed-length training examples. Uses the distributed
    budget splitter (operators/batching.py::chunk_by_budget_distributed
    — the reference's {init_acc, fun} custom batcher, options.ex:
    233-264, composed across range blocks): the handful-of-languages
    key domain never bounds parallelism — per-(range-block, lang)
    token sums broadcast as offsets, chunk ids are closed-form prefix
    arithmetic, no Python. Returns per-sequence stats."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", T.token_count("text").alias("n_tokens")
    )
    packed = B.chunk_by_budget_distributed(
        docs, ["lang"], "doc_id", "n_tokens", SEQ_TOKEN_BUDGET
    )
    return packed.groupBy("lang", F.col("chunk_id").alias("seq_id")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


def q_text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per corpus document, how many of its
    distinct word 3-grams appear in the benchmark set (source 'src0'
    stands in for the eval suite) — the n-gram-overlap contamination
    check run before training. Scale shape: the benchmark shingle set
    is small by construction → broadcast equi-join against the exploded
    corpus shingles, ONE shuffle (the per-doc count); the corpus is
    never self-joined."""
    docs = _t(spark, sf_dir, "documents")
    bench_sh = (
        T.shingle_rows(
            docs.filter(F.col("source") == "src0"),
            "doc_id",
            "text",
            k=DECON_SHINGLE_K,
        )
        .select(F.col("__sh").alias("sh"))
        .distinct()
    )
    corpus = docs.filter(F.col("source") != "src0")
    # Shingle the corpus ONCE (row form — all codegen, no interpreted
    # lambda, no array round trip) and fold both counters in a single
    # aggregation: a broadcast LEFT join marks benchmark hits, then one
    # groupBy counts total (rows are distinct per doc) and hits
    # together.
    ex = T.shingle_rows(corpus, "doc_id", "text", k=DECON_SHINGLE_K).select(
        "__id", F.col("__sh").alias("sh")
    )
    hit = F.broadcast(bench_sh.withColumn("__hit", F.lit(1)))
    per_doc = (
        ex.join(hit, "sh", "left")
        .groupBy(F.col("__id").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_shingles"),
            F.sum(F.coalesce("__hit", F.lit(0))).cast("int").alias("n_shared"),
        )
    )
    return per_doc.withColumn(
        # count/count → exact integer ppm, not round(,6) (half-way class)
        "containment_ppm",
        X.ratio_ppm(F.col("n_shared"), F.col("n_shingles")),
    ).withColumn(
        "contaminated", (F.col("n_shared") >= DECON_MIN_SHARED).cast("int")
    )


# ---------------------------------------------------------------------------
# Driver contract
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# Round-4 additions: deeper TPC-H shapes + analytics + range search
# ---------------------------------------------------------------------------


def q_h9_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-line profit by nation and year (TPC-H Q9 shape, adapted:
    the schema has no partsupp, so unit cost is modeled as
    0.6 * p_retailprice). Three fact joins shuffle on their natural
    keys; part / supplier / nation dimensions broadcast. Revenue and
    cost are separate decimal-exact sums, subtracted and rounded only
    at the end."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    cost = (
        F.lit("0.6").cast("decimal(2,1)")
        * F.col("p_retailprice").cast("decimal(18,2)")
        * F.col("l_quantity").cast("decimal(18,2)")
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(
            F.sum(_dp()).cast("double").alias("revenue"),
            F.sum(cost).cast("double").alias("cost"),
            F.sum(_dp() - cost).cast("double").alias("profit"),
        )
    )


def q_h21_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who kept orders waiting (TPC-H Q21 shape): in
    multi-supplier 'F' orders, the supplier whose lineitem shipped
    >60 days after the order date while every other supplier was on
    time. The classic exists/not-exists pair is ONE window pass over
    the lineitem⋈orders spine (distinct supplier counts, overall and
    late-only, per order) — no correlated self-joins, one shuffle on
    the order key."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    supp = _t(spark, sf_dir, "supplier")
    late = (
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        )
        > 60
    )
    w = Window.partitionBy("l_orderkey")
    spine = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .withColumn("__late_supp", F.when(late, F.col("l_suppkey")))
        .withColumn("__n_supp", F.size(F.collect_set("l_suppkey").over(w)))
        .withColumn("__n_late", F.size(F.collect_set("__late_supp").over(w)))
    )
    waiting = (
        spine.filter(
            F.col("__late_supp").isNotNull()
            & (F.col("__n_supp") > 1)
            & (F.col("__n_late") == 1)
        )
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    return (
        waiting.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_name", "numwait")
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(10)
    )


def q_h16_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier variety per part segment (TPC-H Q16 shape; lineitem
    stands in for partsupp as the part-supplier relation): distinct
    suppliers per (brand, type) outside one excluded brand. The
    distinct-count shuffles once on the grouping key after an early
    broadcast-pruned semi-reduction of the fact table."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") != "Brand#1")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(),
            F.col("p_brand").asc(),
            F.col("p_type").asc(),
        )
        .limit(20)
    )


def q_text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-5 vocabulary terms (≥3 chars) — the wordcount
    primitive of corpus analysis, with a deterministic (count desc,
    token asc) ranking. Explode → partial-agg shuffle on (lang, token)
    → tiny per-lang top-k window."""
    docs = _t(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "lang", F.explode(F.split(F.lower("text"), " ")).alias("token")
        )
        .filter(F.length("token") >= 3)
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("n").desc(), F.col("token").asc()
    )
    return (
        toks.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("lang", "token", "n", "rank")
    )


def q_evt_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user anomaly profile: mean/std of event value from
    decimal-exact sums (cast to double before any division so both
    engines run identical IEEE scalar ops), plus how many of the
    user's events sit outside 2 standard deviations — the outlier
    screen of a telemetry pipeline. One shuffle on user_id; the
    per-row z comparison reuses the same windowed sums, no second
    aggregate."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    s = F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double")
    q = (
        F.sum(
            F.col("value").cast("decimal(18,2)")
            * F.col("value").cast("decimal(18,2)")
        )
        .over(w)
        .cast("double")
    )
    n = F.count(F.lit(1)).over(w).cast("double")
    mean = s / n
    var = F.greatest((q - s * s / n) / n, F.lit(0.0))
    std = F.sqrt(var)
    outlier = F.abs(F.col("value") - mean) > F.lit(2.0) * std
    return (
        ev.select(
            "user_id",
            n.alias("__n"),
            mean.alias("__mean"),
            std.alias("__std"),
            outlier.cast("int").alias("__out"),
        )
        .groupBy("user_id")
        .agg(
            F.max("__n").cast("long").alias("n_events"),
            F.round(F.max("__mean"), 6).alias("mean_value"),
            F.round(F.max("__std"), 6).alias("std_value"),
            F.sum("__out").alias("n_outliers"),
        )
    )


def q_w9_dist_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-function window suite: cume_dist, percent_rank and
    ntile(8) per event_type over a total (value, event_id) order —
    the ranking functions w5 doesn't cover.

    Scale shape: same rewrite as w5 — the handful-of-event-types
    partition key would funnel the whole events table through |types|
    tasks. The ORDER BY's event_id tiebreak makes peer groups
    singletons, so all three functions are closed forms of
    (row_number, per-type n): cume_dist = rn/n, percent_rank =
    (rn−1)/(n−1), ntile = exact integer arithmetic — with row_number
    from the distributed prefix-sum core and the per-type count
    broadcast."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    rn = B.running_sums_distributed(
        ev,
        ["event_type"],
        [F.col("value").asc(), F.col("event_id").asc()],
        {"__rn": F.lit(1).cast("long")},
    )
    n_df = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    base = rn.join(F.broadcast(n_df), "event_type")
    return base.select(
        "event_id",
        "event_type",
        # rank/count ratios → exact integer ppm (the half-way class:
        # a group count of 2^7·5^j ties exactly at 6dp)
        X.ratio_ppm(F.col("__rn"), F.col("__n")).alias("cd_ppm"),
        F.when(F.col("__n") == 1, F.lit(0).cast("long"))
        .otherwise(X.ratio_ppm(F.col("__rn") - 1, F.col("__n") - 1))
        .alias("pr_ppm"),
        RK.exact_ntile_cols("__rn", "__n", 8).alias("bucket"),
    )


def q_sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius neighborhood search: every corpus vector within cosine
    ≥ 0.35 of each query — the threshold complement to top-k ANN
    (candidate generation wants the full neighborhood, not a fixed
    k). Broadcast queries, corpus streams once."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < ANN_NQUERY)
    return S.ann_range_search(emb, queries, "vec_id", "embedding", 0.35)


def q_h20_excess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Excess-share suppliers (TPC-H Q20 shape, lineitem as the
    part-supplier relation): suppliers that shipped more than 40% of a
    part's total shipped quantity. The per-part total is a second
    aggregate over the SAME (part, supplier) partial aggregate — a
    window over the grouped result, not a self-join re-scan of the
    fact table."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    per_ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("__q")
    )
    w = Window.partitionBy("l_partkey")
    shared = per_ps.withColumn("__tot", F.sum("__q").over(w)).filter(
        F.col("__q").cast("double") > 0.4 * F.col("__tot").cast("double")
    )
    return (
        shared.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_dominated_parts"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_name", "n_dominated_parts")
        .orderBy(
            F.col("n_dominated_parts").desc(), F.col("s_name").asc()
        )
        .limit(15)
    )


def q_agg_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least-squares regression (value over event_id) from
    decimal-exact moment sums — slope, intercept and Pearson r as
    closed-form doubles over exact sums, so both engines execute the
    identical IEEE scalar expression (the same policy as evt_zscore).
    The five moments come out of ONE partial-agg shuffle."""
    ev = _t(spark, sf_dir, "events")
    x = F.col("event_id").cast("decimal(18,0)")
    y = F.col("value").cast("decimal(18,2)")
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.sum(x).cast("double").alias("__sx"),
        F.sum(y).cast("double").alias("__sy"),
        F.sum(x * y).cast("double").alias("__sxy"),
        F.sum(x * x).cast("double").alias("__sxx"),
        F.sum(y * y).cast("double").alias("__syy"),
    )
    n, sx, sy = F.col("__n"), F.col("__sx"), F.col("__sy")
    sxy, sxx, syy = F.col("__sxy"), F.col("__sxx"), F.col("__syy")
    cov = sxy - sx * sy / n
    vx = sxx - sx * sx / n
    vy = syy - sy * sy / n
    slope = cov / vx
    return agg.select(
        "event_type",
        n.cast("long").alias("n"),
        F.round(slope, 9).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round(cov / F.sqrt(vx * vy), 6).alias("pearson_r"),
    )


def q_w10_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: per user, maximal runs of CONSECUTIVE active
    days (a gap splits the streak). The classic date-minus-row_number
    constant-per-island trick: one distinct, one window, one groupBy —
    no self-joins, no explode over calendars."""
    ev = _t(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.to_date("ts").alias("__d")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("__d")
    grp = F.date_sub(F.col("__d"), F.row_number().over(w))
    islands = (
        days.withColumn("__g", grp)
        .groupBy("user_id", "__g")
        .agg(F.count(F.lit(1)).alias("__len"))
    )
    return islands.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("__len").cast("long").alias("longest_streak_days"),
        F.sum("__len").cast("long").alias("active_days"),
    )


def q_agg_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Several COUNT(DISTINCT ...) over different columns in ONE
    aggregation (Catalyst's expand-based rewrite: one scan, one
    expanded shuffle — not one scan per distinct column), per day."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("event_type").alias("n_types"),
        F.countDistinct("value").alias("n_values"),
    )


def q_sketch_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """φ-heavy-hitter vocabulary tokens via two-pass Misra-Gries:
    Arrow-batch-local MG summaries emit a tiny candidate superset, one
    broadcast semi-join + count verifies exactly. The shuffle carries
    candidate keys only — never the full vocabulary (the 100 TB win
    when the key space is huge and the answer is small). Output is
    exact, so the oracle is a plain GROUP BY ... HAVING."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower("text"), " ")).alias("token")
    ).filter(F.length("token") > 0)
    return K.heavy_hitters(toks, "token", phi=0.03)


def q_sketch_cms_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min point-frequency estimates for the 20 lowest part keys
    over lineitem — the portable CMS (md5 rows, integer counters, one
    2048-cell reduce regardless of input size); the DuckDB twin
    reproduces every counter bit-for-bit."""
    li = _t(spark, sf_dir, "lineitem")
    counters = K.cms_build(li, "l_partkey")
    keys = (
        li.select("l_partkey").distinct().orderBy("l_partkey").limit(20)
    )
    return K.cms_estimate(counters, keys, "l_partkey")


def q_text_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram surprisal in INTEGER bits: each token
    contributes length(bin(total_tokens DIV corpus_freq)) — an exact
    integer log2 surrogate for -log p(token) — summed per document.
    The rare-token-rich documents float to the top; the all-integer
    pipeline (corpus counts, integer division, bit length) is
    order-independent and bit-identical across engines, unlike a
    float ln() whose libm differs between JVM and C. One token-freq
    aggregate, one (token) equi-join, one per-doc sum."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("__tok")
    ).filter(F.length("__tok") > 0)
    freq = toks.groupBy("__tok").agg(F.count(F.lit(1)).alias("__f"))
    # The corpus total joins in as a broadcast 1-row aggregate (the
    # repo-standard scalar pattern) instead of a driver-side count():
    # one fewer full scan of the exploded token relation.
    total = toks.agg(F.count(F.lit(1)).cast("bigint").alias("__total"))
    bits = F.length(F.expr("bin(__total DIV __f)"))
    return (
        toks.join(freq, "__tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(bits).cast("bigint").alias("surprisal_bits"),
        )
    )


def q_h7_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-nation trade volume (TPC-H Q7 shape): yearly discounted
    revenue where supplier and customer sit in (NATION_1, NATION_2) in
    either direction. Both nation filters are broadcast semi-prunes
    applied BEFORE the fact joins, so the lineitem⋈orders⋈customer
    spine only shuffles qualifying rows; the disjunctive pair
    condition evaluates post-join as a cheap scalar predicate."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    s_nat = supp.join(
        F.broadcast(
            nat.select(
                F.col("n_nationkey").alias("sn_key"),
                F.col("n_name").alias("supp_nation"),
            )
        ),
        F.col("s_nationkey") == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")
    c_nat = cust.join(
        F.broadcast(
            nat.select(
                F.col("n_nationkey").alias("cn_key"),
                F.col("n_name").alias("cust_nation"),
            )
        ),
        F.col("c_nationkey") == F.col("cn_key"),
    ).select("c_custkey", "cust_nation")
    pair_ok = (
        (F.col("supp_nation") == "NATION_1")
        & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2")
        & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.join(F.broadcast(s_nat), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c_nat, F.col("o_custkey") == F.col("c_custkey"))
        .filter(pair_ok)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(F.sum(_dp()).cast("double").alias("revenue"))
    )


def q_h2_min_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheapest-supplier-per-part (TPC-H Q2 shape; lineitem extended
    price per unit stands in for ps_supplycost): for each LARGE-type
    part, the supplier offering the minimum unit price, ties broken by
    supplier key — the per-group argmin as ONE min_by aggregate over
    the joined relation, not a correlated subquery re-scan."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "LARGE")
    supp = _t(spark, sf_dir, "supplier")
    # unit price in integer micro-units: extendedprice*1e6 is exact in
    # a double (2dp values < 1e5), the division and floor are the same
    # IEEE ops in both engines — no decimal-division rounding-rule
    # divergence.
    unit_micro = F.floor(
        F.col("l_extendedprice") * F.lit(1_000_000.0) / F.col("l_quantity")
    ).cast("bigint")
    offers = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "p_partkey",
            "p_name",
            "l_suppkey",
            unit_micro.alias("__um"),
        )
    )
    best = offers.groupBy("p_partkey", "p_name").agg(
        F.min(F.struct(F.col("__um"), F.col("l_suppkey"))).alias("__best")
    )
    return (
        best.select(
            "p_partkey",
            "p_name",
            F.col("__best.l_suppkey").alias("best_suppkey"),
            F.col("__best.__um").alias("__um"),
        )
        .join(
            F.broadcast(supp),
            F.col("best_suppkey") == F.col("s_suppkey"),
        )
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            # exact integer micro-units end-to-end — the old
            # round(um/1e6, 6) was the identity on a ≤6-decimal value;
            # publishing the integer retires the allowlist entry (r13)
            F.col("__um").alias("unit_price_micro"),
        )
    )


def q_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment — THE splitting
    primitive of a training-data pipeline: md5(doc_id) buckets into
    90/5/5, stable across runs, engines and cluster layouts (no RNG,
    no row order dependence). Output: per (split, lang) doc and token
    counts. Pure codegen hash + one partial-agg shuffle."""
    docs = _t(spark, sf_dir, "documents")
    bucket = F.expr(
        "CAST(conv(substring(md5(concat('split:', CAST(doc_id AS STRING))),"
        " 1, 15), 16, 10) AS BIGINT) % 100"
    )
    split = (
        F.when(bucket < 90, F.lit("train"))
        .when(bucket < 95, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.select(
            split.alias("split"),
            "lang",
            T.token_count("text").alias("__tok"),
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__tok").cast("bigint").alias("n_tokens"),
        )
    )


KFOLD_K = 5


def q_sample_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold cross-validation assignment: each doc
    hashes into one of {KFOLD_K} folds (same md5 scheme as
    sample_split — stable across runs, engines, and cluster layouts),
    and the report shows per-fold doc/token counts plus the
    integer-ppm share so fold balance is auditable. Pure codegen hash
    + one partial-agg shuffle; the ppm window runs over K rows."""
    docs = _t(spark, sf_dir, "documents")
    fold = F.expr(
        "CAST(conv(substring(md5(concat('fold:', CAST(doc_id AS"
        f" STRING))), 1, 15), 16, 10) AS BIGINT) % {KFOLD_K}"
    )
    agg = (
        docs.select(
            fold.alias("fold"), T.token_count("text").alias("__tok")
        )
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__tok").cast("bigint").alias("n_tokens"),
        )
    )
    return agg.select(
        "fold",
        "n_docs",
        "n_tokens",
        # DECIMAL(38,0) ppm numerator — n_docs·1e6 in BIGINT wraps
        # past 9.2e12 docs (r9 overflow sweep).
        F.expr(
            "CAST((n_docs * CAST(1000000 AS DECIMAL(38,0)))"
            " DIV sum(n_docs) OVER () AS BIGINT)"
        ).alias("share_ppm"),
    )


def q_evt_error_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-burst alerting: users whose error events cluster — for
    every error, count the same user's errors in the trailing 5
    minutes (event-time RANGE frame over micros, the w13 machinery);
    a burst is ≥3 in-window. Report per user: total errors, burst
    events, and the peak in-window count — the alert feed of an
    operations dashboard. One keyed shuffle over errors only (the
    filter reaches the scan), then a per-user aggregate."""
    ev = _t(spark, sf_dir, "events").where(F.col("event_type") == "error")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-(300_000_000 - 1), 0)
    )
    per = ev.select(
        "user_id", F.count(F.lit(1)).over(w).cast("bigint").alias("__inw")
    )
    return per.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_errors"),
        F.sum((F.col("__inw") >= 3).cast("int"))
        .cast("bigint")
        .alias("n_burst_events"),
        F.max("__inw").alias("peak_5min"),
    )


def q_sample_split_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: the split key is the doc's
    near-dup CLUSTER representative (min-id of its LSH connected
    component), not the doc itself, so near-duplicates can never
    straddle train and test — the dedup-aware splitting rule modern
    LLM data pipelines apply before eval-set carve-out. Singletons
    hash on their own id; the bucket hash is the same md5 scheme as
    ``sample_split`` so the two splits agree wherever no dup risk
    exists. Scale shape: the audited LSH + star-CC label table (never
    all-pairs), ONE left join against the corpus, one partial-agg
    shuffle; per-split distinct-group counts shuffle only (split, rep)
    pairs."""
    docs = _t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        docs,
        "doc_id",
        "text",
        num_hashes=MINHASH_NUM,
        bands=MINHASH_BANDS,
        threshold=MINHASH_THRESHOLD,
        shingle_k=MINHASH_K,
    )
    labels = D.near_dup_labels(pairs)
    rep = docs.join(labels, docs.doc_id == labels.id, "left").select(
        "doc_id",
        T.token_count("text").cast("bigint").alias("__tok"),
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("rep"),
        F.col("cluster_id").isNotNull().cast("int").alias("__near"),
    )
    bucket = F.expr(
        "CAST(conv(substring(md5(concat('split:', CAST(rep AS STRING))),"
        " 1, 15), 16, 10) AS BIGINT) % 100"
    )
    split = (
        F.when(bucket < 90, F.lit("train"))
        .when(bucket < 95, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        rep.select(split.alias("split"), "rep", "__tok", "__near")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("rep").alias("n_groups"),
            F.sum("__tok").cast("bigint").alias("n_tokens"),
            F.sum("__near").cast("bigint").alias("n_near_dup_docs"),
        )
    )


def q_dedup_char_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-16-gram Jaccard near-dup pairs within (lang, source) —
    the character-level member of the n-gram-Jaccard family, at
    fingerprinting granularity (long grams: this corpus's 5-char gram
    space is degenerate — 249 distinct grams across 5k docs — so short
    grams make every bucket quadratic; 16-grams span a 75k-term space
    where rare-prefix filtering actually bites).

    Gram sets are MOD-SAMPLED (Broder: keep grams with hash ≡ 0 mod 8)
    via ``D.char_ngram_gram_sets`` — sample_hash='md5' here because the
    DuckDB twin must reproduce the sample bit-for-bit; the operator's
    PRODUCTION default is the codegen'd xxhash64 sampler (same
    statistics, no per-gram digest+hex cost — the round-4 bench's top
    single cost). The prefix-filter join is exact over the sampled
    sets."""
    docs = _t(spark, sf_dir, "documents")
    grams = D.char_ngram_gram_sets(
        docs,
        "doc_id",
        "text",
        n=16,
        mod=8,
        sample_hash="md5",  # oracle-portable; production uses xxhash64
        block_cols=("lang", "source"),
    )
    # The prefix-filter operator materializes its token-set projection
    # (opt-in since r15) — the 10M-row gram explode + md5 runs once;
    # without the barrier each of the three plan branches re-runs it
    # (same-window interleaved A/B: +2.2 s with it off).
    return D.jaccard_pairs_prefix_filter(
        grams,
        "doc_id",
        "grams",
        0.15,
        block_cols=["lang", "source"],
        materialize_base=True,
    )


def q_h11_important(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Important-stock parts (TPC-H Q11 shape; lineitem value stands in
    for partsupp): parts whose total extended-price value exceeds
    0.1% of the whole — a grouped aggregate filtered against a scalar
    aggregate of the SAME pre-aggregated relation, broadcast as a
    1-row threshold (never a re-scan of the fact table)."""
    li = _t(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("__v")
    )
    total = per_part.agg(
        F.sum("__v").alias("__tot")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(
            F.col("__v").cast("double") > 0.001 * F.col("__tot").cast("double")
        )
        .select(
            "l_partkey",
            F.round(F.col("__v").cast("double"), 2).alias("part_value"),
        )
    )


def q_sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture building: per language, keep the
    highest-quality documents until a 3000-token budget is exhausted
    (cumulative-sum cutoff over a deterministic (quality desc, doc_id)
    order) — how a training mixture is actually assembled. The greedy
    order is total (integer micro-unit quality, id tiebreak) so both
    engines pick identical document sets.

    Scale shape: the cumulative sum runs on the distributed
    prefix-sum core (operators/batching.running_sums_distributed) —
    per-(range-block, lang) token sums broadcast as offsets, so the
    handful-of-languages key domain never bounds parallelism (the
    same composition that fixed the byte-budget packing family)."""
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        T.token_count("text").alias("n_tokens"),
        T.quality_ppm("text").alias("q_micro"),
    )
    return (
        B.running_sums_distributed(
            scored,
            ["lang"],
            [F.col("q_micro").desc(), F.col("doc_id").asc()],
            {"__cum": F.col("n_tokens").cast("long")},
        )
        .filter(F.col("__cum") <= 3000)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.min("q_micro").alias("min_quality_micro"),
        )
    )


def q_emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization audit — the storage/serve
    compression step of an embedding pipeline (4× smaller vectors),
    with its reconstruction error accounted exactly: per label, the
    max and mean absolute dequantization error in integer micro-units.
    scale = max|x| / 127 per vector; q = round(x/scale) clamped to
    [-127, 127]; err = |x - q*scale|. All error sums are integer
    micro-units (exact, order-independent) — the same oracle-exactness
    policy as emb_kmeans. Pure codegen HOF-free row math: explode once,
    two window-free aggregates."""
    emb = _t(spark, sf_dir, "embeddings")
    rows = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "__pos", "__x"
        ),
    )
    w = Window.partitionBy("vec_id")
    scaled = rows.withColumn(
        "__scale", F.max(F.abs("__x")).over(w) / F.lit(127.0)
    )
    q = F.greatest(
        F.lit(-127.0),
        F.least(F.lit(127.0), F.round(F.col("__x") / F.col("__scale"))),
    )
    err_micro = F.floor(
        F.abs(F.col("__x") - q * F.col("__scale")) * F.lit(1_000_000.0)
    ).cast("bigint")
    return (
        scaled.filter(F.col("__scale") > 0)
        .select("label", err_micro.alias("__e"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_components"),
            F.max("__e").alias("max_err_micro"),
            F.floor(F.avg("__e")).cast("bigint").alias("mean_err_micro"),
        )
    )


def q_j3_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit LEFT SEMI / LEFT ANTI join semantics: per nation, how
    many customers have at least one order vs none at all. Both sides
    of the existence predicate materialize as semi/anti hash joins on
    the customer key — never a count-then-filter of a full outer
    join."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select("o_custkey")
    nat = _t(spark, sf_dir, "nation")
    active = cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n_active"))
    idle = cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n_idle"))
    return (
        active.join(idle, "c_nationkey", "full_outer")
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.coalesce("n_active", F.lit(0)).cast("long").alias("n_active"),
            F.coalesce("n_idle", F.lit(0)).cast("long").alias("n_idle"),
        )
    )


def q_null_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-semantics suite — the classic cross-engine traps, pinned:
    null-safe equality (Spark <=> / SQL IS NOT DISTINCT FROM), NULLIF,
    COALESCE chains, null ordering inside aggregates (count vs
    count(col)), and CASE fall-through on NULL comparisons. Exercised
    over a derived column that is NULL for every third row."""
    ev = _t(spark, sf_dir, "events")
    v = F.when(F.col("event_id") % 3 != 0, F.col("value"))
    e = ev.select(
        "event_id",
        "event_type",
        v.alias("__v"),
    )
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("__v").alias("n_nonnull"),
        F.sum(F.col("__v").cast("decimal(18,2)")).cast("double").alias("sum_v"),
        F.sum(
            (F.col("__v").eqNullSafe(F.lit(None).cast("double"))).cast("int")
        ).alias("n_nullsafe_eq_null"),
        F.sum(F.nullif(F.col("__v"), F.lit(0.0)).isNull().cast("int")).alias(
            "n_zero_or_null"
        ),
        F.sum(
            F.coalesce(F.col("__v"), F.lit(-1.0)).cast("decimal(18,2)")
        ).cast("double").alias("sum_coalesced"),
        F.sum(
            F.when(F.col("__v") > 50.0, 1).otherwise(0)
        ).alias("n_gt50_null_falls_through"),
    )


def q_text_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/quality signals (Rae et al. 2021 §A1.1),
    word-granular: top-word fraction, duplicate-word fraction,
    duplicate-bigram fraction, mean word length, and a pass flag.

    Scale shape: one posexplode + two-level hash aggregate for unigrams
    (map-side partials on (doc_id, tok)), bigrams through the shared
    lead-window gather (one keyed shuffle), then a doc_id equi-join of
    two per-doc aggregates. The shuffles carry (doc_id, token, count)
    rows — never the document text — so this is linear in corpus bytes
    and survives a 100× scale-up."""
    docs = _t(spark, sf_dir, "documents")
    uni = (
        docs.select("doc_id", F.explode(T.tokens("text")).alias("tok"))
        .where(F.length("tok") > 0)
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.max("c").alias("top_c"),
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias(
                "dup_c"
            ),
            F.sum(F.length("tok") * F.col("c")).alias("chars"),
        )
    )
    bg = (
        T.shingle_instances(docs, "doc_id", "text", 2)
        .groupBy("__id", "__sh")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("__id")
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias(
                "dup_bg"
            ),
        )
        .withColumnRenamed("__id", "doc_id")
    )
    # every signal is count/count — exact integer ppm (functions/
    # exact.py), never round(,6): a token total of 2^7·5^j ties exactly
    # at 6dp. The pass flag compares ppm against integer thresholds,
    # so it is pure integer arithmetic end to end.
    top_ppm = X.ratio_ppm(F.col("top_c"), F.col("n_tokens"))
    dup_ppm = X.ratio_ppm(F.col("dup_c"), F.col("n_tokens"))
    bg_ppm = X.ratio_ppm(F.col("dup_bg"), F.col("n_bigrams"))
    mwl_ppm = X.ratio_ppm(F.col("chars"), F.col("n_tokens"))
    return uni.join(bg, "doc_id").select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        top_ppm.alias("top_word_ppm"),
        dup_ppm.alias("dup_word_ppm"),
        bg_ppm.alias("dup_bigram_ppm"),
        mwl_ppm.alias("mean_word_len_ppm"),
        ((top_ppm <= 200000) & (bg_ppm <= 600000))
        .cast("int")
        .alias("pass_gopher"),
    )


PASSAGE_CHUNK_TOKENS = 10


def q_dedup_passage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level exact passage dedup (CCNet-style, adapted to fixed
    10-token chunks since this corpus is single-line): a chunk instance
    survives iff it is the globally-first occurrence (min (doc_id,
    chunk_idx)) of its md5 fingerprint; per-doc stats report how much
    of each document is boilerplate already seen elsewhere.

    Scale shape: chunking is a per-row slice expression (no shuffle);
    the global first-occurrence arbitration is ONE shuffle keyed on the
    16-byte fingerprint (never the passage text — the md5 is computed
    before the exchange and the passage column is dropped), then one
    doc_id aggregate. Window state per key is the tiny min-struct."""
    docs = _t(spark, sf_dir, "documents")
    tok = "split(lower(text), ' ')"
    n = PASSAGE_CHUNK_TOKENS
    chunks = docs.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size({tok}) / {n}.0) as int)"
                f" - 1), i -> array_join(slice({tok}, i * {n} + 1, {n}), ' '))"
            )
        ).alias("chunk_idx", "passage"),
    ).select("doc_id", "chunk_idx", F.md5("passage").alias("fp"))
    w = Window.partitionBy("fp")
    first = F.min(F.struct("doc_id", "chunk_idx")).over(w)
    marked = chunks.select(
        "doc_id",
        (
            (first.getField("doc_id") != F.col("doc_id"))
            | (first.getField("chunk_idx") != F.col("chunk_idx"))
        )
        .cast("int")
        .alias("is_dup"),
    )
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("is_dup").alias("n_dup"),
        # count/count → exact integer ppm, not round(,6) (half-way class)
        X.ratio_ppm(F.sum("is_dup"), F.count(F.lit(1))).alias("dup_ppm"),
    )


def q_sketch_hist_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable histogram-quantile sketch: fixed-width 1000-unit bins of
    l_extendedprice per return flag, quantile estimated as the lower
    bound of the first bin whose cumulative count reaches q·N (integer
    comparisons only — bit-identical across engines; the sketch twin of
    agg_percentiles' exact path).

    Scale shape: one partial-agg shuffle down to (flag, bin) counts —
    a few hundred rows regardless of input size — then a per-flag
    window over bins. This is the mergeable-summary pattern: the
    histogram is a commutative monoid, so 1000 executors each emit
    partial bin counts and the exchange carries only the sketch."""
    li = _t(spark, sf_dir, "lineitem")
    binned = (
        li.groupBy(
            "l_returnflag",
            F.floor(F.col("l_extendedprice") / 1000).alias("b"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("l_returnflag")
    cum = binned.select(
        "l_returnflag",
        "b",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wall).alias("n"),
    )
    return cum.groupBy("l_returnflag").agg(
        F.max("n").alias("n_rows"),
        (
            F.min(F.when(F.col("cum") * 2 >= F.col("n"), F.col("b"))) * 1000.0
        ).alias("p50_lo"),
        (
            F.min(F.when(F.col("cum") * 10 >= F.col("n") * 9, F.col("b")))
            * 1000.0
        ).alias("p90_lo"),
    )


def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection: exact-dup groups keep the HIGHEST-
    QUALITY copy (not min-id) — the realistic keeper policy when dup
    groups mix a clean original with truncated/mojibake re-crawls.
    Keeper = argmax(quality, tiebreak min doc_id) via a single
    min-struct aggregate on (-q_micro, doc_id); quality in integer
    micro-units so the argmax is exact across engines.

    Scale shape: one hash-aggregate keyed on the md5 fingerprint (the
    shuffle carries 32-char digests + two ints, never text)."""
    docs = _t(spark, sf_dir, "documents")
    qm = T.quality_ppm("text")
    scored = docs.select(
        F.md5("text").alias("fp"), "doc_id", qm.alias("q_micro")
    )
    best = scored.groupBy("fp").agg(
        F.min(
            F.struct(
                (-F.col("q_micro")).alias("nq"), F.col("doc_id").alias("id")
            )
        ).alias("b"),
        F.count(F.lit(1)).alias("n_copies"),
    )
    return best.select(
        F.col("b.id").alias("keeper_id"),
        (-F.col("b.nq")).alias("keeper_q_micro"),
        "n_copies",
    )


CONTAINMENT_MAXDF = 50
CONTAINMENT_MIN = 0.8


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-in-doc detection via set containment |A∩B| / min(|A|,|B|)
    over 3-word shingles, after CCNet-style common-shingle pruning
    (shingles in >50 docs are boilerplate and dropped; singletons
    can't witness a pair). Catches subset relationships Jaccard
    misses: a doc embedded in a 10× larger one has low Jaccard but
    containment ≈ 1.

    Scale shape: the pair generator is an equi-join on pruned shingles
    — per-shingle fan-out is capped at df ≤ 50 so the candidate count
    is O(n_shingles · df), never all-pairs; doc sizes join back as two
    broadcast-size aggregates. The df cap is the explicit scale knob
    (CCNet prunes the same way at petabyte scale)."""
    docs = _t(spark, sf_dir, "documents")
    # sh feeds two consumers (df counts + the pruned join) and rare
    # feeds three (sizes, both pair sides): materialize so the shingle
    # gather's window shuffle runs once, not per consumer (tracked for
    # release between suite queries — no unbounded cache growth).
    sh = materialize(T.shingle_rows(docs, "doc_id", "text", 3), "cont_sh")
    keep = (
        sh.groupBy("__sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(
            (F.col("df") >= 2) & (F.col("df") <= CONTAINMENT_MAXDF)
        )
        .select("__sh")
    )
    rare = materialize(sh.join(keep, "__sh"), "cont_rare")
    sizes = rare.groupBy("__id").agg(F.count(F.lit(1)).alias("sz"))
    pairs = (
        rare.alias("l")
        .join(rare.alias("r"), "__sh")
        .where(F.col("l.__id") < F.col("r.__id"))
        .groupBy(
            F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    # shared/min(sz) is count/count → exact integer ppm; the threshold
    # becomes pure integer comparison (ppm ≥ min·1e6 ⟺ ratio ≥ min)
    cont = X.ratio_ppm(
        F.col("shared"), F.least(F.col("a.sz"), F.col("b.sz"))
    )
    return (
        pairs.join(
            F.broadcast(sizes.alias("a")), F.col("id_a") == F.col("a.__id")
        )
        .join(F.broadcast(sizes.alias("b")), F.col("id_b") == F.col("b.__id"))
        .select("id_a", "id_b", cont.alias("containment_ppm"))
        .where(F.col("containment_ppm") >= X.ppm(CONTAINMENT_MIN))
    )


def q_bit_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise-function surface: popcount, masks, shifts, and the
    bit_and/bit_or/bit_xor aggregate family over event ids."""
    ev = _t(spark, sf_dir, "events")
    eid = F.col("event_id")
    return ev.groupBy("event_type").agg(
        F.sum(F.bit_count(eid)).alias("sum_popcount"),
        F.sum(eid.bitwiseAND(F.lit(255))).alias("sum_and255"),
        F.sum(F.shiftright(eid, 3).bitwiseAND(F.lit(7))).alias(
            "sum_shift_mask"
        ),
        F.bit_and(eid).alias("agg_and"),
        F.bit_or(eid).alias("agg_or"),
        F.bit_xor(eid).alias("agg_xor"),
    )


def q_regex_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex-function surface over document text: first-match
    extraction, match counting, replace, boolean match, regex split
    (patterns restricted to the Java∩RE2 common dialect so both
    engines agree)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_extract("text", r"\b(query|table|join)\b", 1).alias(
            "first_kw"
        ),
        F.size(
            F.regexp_extract_all("text", F.lit(r"\b(scan|sort|merge)\b"), 0)
        ).alias("n_exec_kw"),
        F.length(F.regexp_replace("text", "[aeiou]+", "*")).alias(
            "devowel_len"
        ),
        F.col("text").rlike("^[a-z ]+$").cast("int").alias("is_plain"),
        F.size(F.split("text", "a+")).alias("n_a_splits"),
    )


def q_evt_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-transition matrix: per (state → next state)
    pair, the count and the per-source transition probability — the
    sequence-analytics primitive behind session-flow and churn models.

    Scale shape: one lead() window keyed on user_id (the same shuffle a
    sessionization already pays), then a hash-aggregate down to
    |states|² rows and a tiny window over those for probabilities."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = ev.select(
        F.col("event_type").alias("from_state"),
        F.lead("event_type").over(w).alias("to_state"),
    ).where(F.col("to_state").isNotNull())
    counts = t.groupBy("from_state", "to_state").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = Window.partitionBy("from_state")
    return counts.select(
        "from_state",
        "to_state",
        "n",
        # transition probability is count/count — exact integer ppm
        # (functions/exact.py), never a 6dp round: a row-total of
        # 2^7·5^j (16000, 400000…) makes the quotient an exact 6dp
        # half-way case where the engines' round() split by 1 ulp
        X.ratio_ppm(F.col("n"), F.sum("n").over(tot)).alias("p_ppm"),
    )


# Journey-pattern catalog (MATCH_RECOGNIZE-style sequence regexes over
# per-user event-initial strings; initials s/e/c/v/p are distinct).
JOURNEY_PATTERNS = (
    ("funnel_strict", "v[^p]*c[^p]*p"),  # view→click→purchase, no
    # purchase in between
    ("error_then_purchase", "e[^p]*p"),
    ("signup_first", "^s"),
    ("error_streak", "ee"),
)


JOURNEY_MAX_EVENTS = 128


def _journeys_from(ev: DataFrame) -> DataFrame:
    """(user_id, journey): each user's event-initial string over its
    FIRST ``JOURNEY_MAX_EVENTS`` events in strict (ts, event_id)
    order — the sequence-pattern substrate. Per-user state is BOUNDED
    by construction: the rank filter runs before the collect, so the
    aggregation buffer holds ≤128 structs even for a bot account with
    10⁷ events (the r11-verdict hot-user class; the uncapped form held
    one user-lifetime-sized array per user). Gate-scale corpora top
    out at 99 events/user, so the cap changes no fixture hash. The
    rank window partitions on user_id — a HIGH-cardinality key, so the
    plain window distributes (the prefix-sum core exists for
    low-cardinality keys); one keyed shuffle total, the same one
    sessionization pays."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first = (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            F.substring("event_type", 1, 1).alias("i"),
        )
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= JOURNEY_MAX_EVENTS)
    )
    return first.groupBy("user_id").agg(
        F.array_join(
            F.expr(
                "transform(array_sort(collect_list(struct(__rn, i))),"
                " x -> x.i)"
            ),
            "",
        ).alias("journey")
    )


def _journeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _journeys_from(_t(spark, sf_dir, "events"))


def _journey_sql(events_rel: str = "events") -> str:
    """DuckDB twin of ``_journeys_from``: first-N rank filter, then
    the ordered string_agg."""
    return f"""
              SELECT user_id,
                     string_agg(i, '' ORDER BY rn) AS journey
              FROM (
                SELECT user_id, substr(event_type, 1, 1) AS i,
                       row_number() OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) AS rn
                FROM {events_rel}
              ) WHERE rn <= {JOURNEY_MAX_EVENTS}
              GROUP BY user_id"""


_JOURNEY_SQL = _journey_sql()


def q_evt_journey_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching (the MATCH_RECOGNIZE / funnel-regex
    shape): per catalog pattern, how many users' ordered event-initial
    journey matches, and the integer-ppm share of all users. Patterns
    are ordinary regexes over one journey string per user — the
    strict-funnel form 'v[^p]*c[^p]*p' is inexpressible as plain
    transition counts (evt_markov) because it constrains what may NOT
    appear between the steps. Scale shape: journeys are built with ONE
    keyed shuffle, each pattern is a codegen rlike over |users| rows,
    and the catalog unpivots via stack — no per-pattern rescans."""
    return _journey_patterns_from(_journeys(spark, sf_dir))


def _journey_patterns_from(j: DataFrame) -> DataFrame:
    flags = j.select(
        *[
            F.col("journey").rlike(p).cast("int").alias(name)
            for name, p in JOURNEY_PATTERNS
        ]
    )
    agg = flags.agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.sum(name).cast("bigint").alias(name) for name, _ in
          JOURNEY_PATTERNS],
    )
    stack = ", ".join(f"'{name}', {name}" for name, _ in JOURNEY_PATTERNS)
    return agg.select(
        F.expr(
            f"stack({len(JOURNEY_PATTERNS)}, {stack})"
        ).alias("pattern", "n_users"),
        F.col("__n"),
    ).select(
        "pattern",
        "n_users",
        # DECIMAL(38,0) ppm numerator (r9 overflow sweep).
        F.expr(
            "CAST((n_users * CAST(1000000 AS DECIMAL(38,0))) DIV __n"
            " AS BIGINT)"
        ).alias("share_ppm"),
    )


def q_edge_journey_hot_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEAVY-HITTER journey stream: every 'view' event in the corpus
    is remapped onto ONE bot account (user_id → 7) before the journey
    build — the 10⁶-events-one-user class the r11 verdict flagged
    against the uncapped collect_list form, where that user's
    aggregation buffer would hold its whole lifetime. The first-N rank
    filter (``_journeys_from``) keeps the buffer at ≤128 structs no
    matter how many events pile on the key; AQE skew handling covers
    the shuffle hot key. The result pins the exact pattern shares of
    the degenerate stream to the oracle."""
    ev = _t(spark, sf_dir, "events").select(
        F.when(F.col("event_type") == "view", F.lit(7).cast("long"))
        .otherwise(F.col("user_id"))
        .alias("user_id"),
        "event_type",
        "ts",
        "event_id",
    )
    return _journey_patterns_from(_journeys_from(ev))


def q_evt_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 journey openings: the most common first-5-event initial
    prefixes across users — the product-analytics 'common paths'
    report. Reuses the one-shuffle journey build; the top-k window
    runs over at most 5^|initials| aggregated prefix rows."""
    j = _journeys(spark, sf_dir)
    pref = (
        j.select(F.substring("journey", 1, 5).alias("prefix"))
        .groupBy("prefix")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )
    wtop = Window.orderBy(F.col("n_users").desc(), F.col("prefix").asc())
    return (
        pref.withColumn("rk", F.row_number().over(wtop))
        .where(F.col("rk") <= 10)
        .select("prefix", "n_users", "rk")
    )


SESSION_JOURNEY_MAX = 64


def q_evt_session_journeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionized journeys (operators/temporal.session_journeys —
    r12 breadth, pairs with the capped lifetime substrate): events
    are cut into 30-min-gap sessions per user, each session's
    event-initial string is built over its FIRST SESSION_JOURNEY_MAX
    events (bounded aggregation state by construction), and the
    report is the top-15 most common session journeys with their
    frequency and total event volume — 'what does a single sitting
    look like', the within-session complement of the lifetime
    pattern catalog.

    Scale shape: one keyed shuffle drives both window passes and the
    session aggregate (same high-cardinality user key); the journey
    frequency table then hash-aggregates on the string, and the
    top-15 is a WindowGroupLimit-bounded rank. Exactness: journey
    strings, counts, and event totals are all integers/strings — no
    float anywhere."""
    ev = _t(spark, sf_dir, "events")
    j = TM.session_journeys(
        ev,
        "ts",
        ["user_id"],
        F.substring("event_type", 1, 1),
        order_cols=["ts", "event_id"],
        gap_minutes=SESSION_GAP_MIN,
        max_events=SESSION_JOURNEY_MAX,
    )
    freq = j.groupBy("journey").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum("n_events").cast("long").alias("total_events"),
    )
    wtop = Window.orderBy(F.col("n_sessions").desc(), F.col("journey").asc())
    return (
        freq.withColumn("rk", F.row_number().over(wtop))
        .where(F.col("rk") <= 15)
        .select("journey", "n_sessions", "total_events", "rk")
    )


def q_emb_top_direction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact power-iteration step toward the corpus's top principal
    direction: y = Xᵀ(X·v₀) with v₀ = ones, all in integer micro-units
    so every sum is associative and the result is bit-identical across
    engines (the float path would be summation-order-dependent).

    Scale shape: the row projection s_i = Σ_d x_id is a per-row fold
    (no shuffle); the dimension sums are one partial-agg shuffle down
    to 64 keys. Overflow headroom: |s·x| ≤ 2.6e12 per term, so bigint
    holds ~3.5M rows per dimension partial — beyond that, chunk ids
    and re-sum (same monoid)."""
    emb = _t(spark, sf_dir, "embeddings")
    micro = "transform(embedding, x -> cast(round(x * 1e6) as bigint))"
    # Two selects on purpose: computing s in the SAME select as the
    # posexplode lands the (interpreted) fold in the post-Generate
    # Project, re-evaluating it once per exploded row (64×). Split, it
    # stays below the Generate and runs once per vector.
    rows = emb.select(
        F.expr(f"aggregate({micro}, 0L, (a, x) -> a + x)").alias("s"),
        F.expr(micro).alias("m"),
    ).select("s", F.posexplode("m").alias("d", "xi"))
    return (
        rows.groupBy((F.col("d") + 1).alias("dim_idx"))
        .agg(F.sum(F.col("xi") * F.col("s")).alias("proj"))
    )


def q_ts_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candle rollup: per (hour, event_type) the opening value
    (argmin ts), high, low, closing value (argmax ts), count and exact
    sum — the finance-style twin of ts_rollup. Open/close are
    deterministic via (ts, event_id) composite ordering inside a
    min/max-struct aggregate (event_id is unique, so ties in ts can't
    make the result engine-dependent).

    Scale shape: ONE hash-aggregate; min/max-struct are partial-agg
    friendly so 1000 executors emit candle partials and the exchange
    carries |hours|·|types| rows."""
    ev = _t(spark, sf_dir, "events")
    h = F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:00")
    probe = F.struct("ts", "event_id", "value")
    return (
        ev.groupBy(h.alias("bucket"), "event_type")
        .agg(
            F.min(probe).getField("value").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(probe).getField("value").alias("close"),
            F.count(F.lit(1)).alias("n"),
            _dsum("value").alias("sum_value"),
        )
    )


EWMA_K = 8  # lag horizon; dyadic weights 2^-k are exact in double


def _ewma_sql(table: str) -> str:
    """EWMA SELECT shared VERBATIM by Spark and DuckDB — the lag-chain
    approximation of the recursive EWMA (truncating the tail at 2^-7
    bounds the error at <1% of the smoothed value), with dyadic
    weights so every product is exact in double and both engines fold
    the identical expression tree. Missing lags (series head) drop
    out of numerator AND denominator, so early rows are exact partial
    averages, not zero-padded."""
    terms, dens = [], []
    for k in range(EWMA_K):
        w = repr(1 / (1 << k))
        lagk = f"lag(value, {k}) OVER w" if k else "value"
        terms.append(
            f"CASE WHEN {lagk} IS NOT NULL THEN {lagk} * {w} ELSE 0 END"
        )
        dens.append(f"CASE WHEN {lagk} IS NOT NULL THEN {w} ELSE 0 END")
    return (
        f"SELECT event_id, user_id, "
        f"round(({' + '.join(terms)}) / ({' + '.join(dens)}), 6) AS ewma "
        f"FROM {table} "
        f"WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"
    )


def q_ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average per user — the smoothing
    primitive of telemetry dashboards, as a lag-chain window (true
    recursion is not SQL-expressible; the 8-term dyadic truncation
    is, identically on both engines — the ORACLE RUNS THE SAME
    GENERATED SQL STRING, so drift is impossible by construction).
    One keyed shuffle; the lag chain reads the same sorted partition
    eight times with no extra exchange."""
    ev = _t(spark, sf_dir, "events")
    ev.createOrReplaceTempView("__ewma_events")
    return spark.sql(_ewma_sql("__ewma_events"))


def q_ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill + linear interpolation: each user's hourly mean value
    on a dense hour spine from their first to last event; missing
    hours are linearly interpolated between the neighboring observed
    hours (edges stay NULL). The timeseries-regularization primitive
    sensor/metrics pipelines need before any windowed model.

    Exactness: hourly means are decimal-sum / count (associative);
    interpolation is then scalar double math on those exact inputs.

    Scale shape: one aggregate to (user, hour) means; the spine is a
    per-user sequence() explode (no shuffle — it reuses the group's
    partitioning); fill is two IGNORE NULLS window passes over the
    user's own partition. No joins against a global calendar table."""
    ev = _t(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            "user_id", F.date_trunc("hour", F.col("ts")).alias("h")
        )
        .agg((_dsum("value") / F.count(F.lit(1))).alias("v"))
    )
    spine = (
        hourly.groupBy("user_id")
        .agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
        .select(
            "user_id",
            F.explode(
                F.expr("sequence(h0, h1, interval 1 hour)")
            ).alias("h"),
        )
    )
    joined = spine.join(hourly, ["user_id", "h"], "left")
    # Both fills are RUNNING frames (unboundedPreceding → currentRow):
    # the natural (currentRow → unboundedFollowing) spelling of the
    # forward neighbor hits Spark's UnboundedFollowingWindowFunctionFrame,
    # which re-aggregates the remainder of the partition per row —
    # O(n²) per user (measured 10.5 s vs 1-2 s at sf0.1). Reversing the
    # sort instead costs one extra O(n log n) sort and stays linear.
    wb = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(F.col("h").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev_v = F.last("v", ignorenulls=True).over(wb)
    next_v = F.last("v", ignorenulls=True).over(wf)
    prev_h = F.last(
        F.when(F.col("v").isNotNull(), F.col("h")), ignorenulls=True
    ).over(wb)
    next_h = F.last(
        F.when(F.col("v").isNotNull(), F.col("h")), ignorenulls=True
    ).over(wf)
    span = F.unix_timestamp(next_h) - F.unix_timestamp(prev_h)
    frac = (F.unix_timestamp("h") - F.unix_timestamp(prev_h)) / span
    interp = F.when(F.col("v").isNotNull(), F.col("v")).otherwise(
        prev_v + (next_v - prev_v) * frac
    )
    # micro-unit output with explicit floor(x*1e6 + 0.5): round() is
    # engine-policy-dependent on exact decimal midpoints (HALF_UP vs
    # half-even), and interpolation fractions hit midpoints often.
    return joined.select(
        "user_id",
        F.date_format("h", "yyyy-MM-dd HH:00").alias("bucket"),
        F.col("v").isNotNull().cast("int").alias("observed"),
        F.floor(interp * 1e6 + F.lit(0.5)).cast("long").alias(
            "value_micro"
        ),
    )


def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical mode per group (argmax count, min-value tiebreak)
    via the deterministic min-struct aggregate — no window, no sort.

    Scale shape: two chained hash-aggregates, both partial-agg
    friendly; the second's key space is |event_type|."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int").alias("k")
    counts = ev.select("event_type", k).groupBy("event_type", "k").agg(
        F.count(F.lit(1)).alias("n")
    )
    best = counts.groupBy("event_type").agg(
        F.min(
            F.struct((-F.col("n")).alias("nn"), F.col("k").alias("k"))
        ).alias("b")
    )
    return best.select(
        "event_type",
        F.col("b.k").alias("mode_k"),
        (-F.col("b.nn")).alias("n_mode"),
    )


def q_sample_exact_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k deterministic sample per stratum: the 10 docs with the
    smallest md5('k:'||doc_id) per language — the fixed-size twin of
    the proportional samplers (hash order is stable across engines
    and re-runs, unlike rand()).

    Scale shape: per-stratum top-k via row_number inside the
    stratum's own partition; Spark's window top-k stays a partial
    top-k sort, no global order."""
    docs = _t(spark, sf_dir, "documents")
    hk = F.md5(F.concat(F.lit("k:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(hk.asc(), F.col("doc_id").asc())
    return (
        docs.select("lang", "doc_id", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= 10)
    )


def q_sketch_bloom_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership audit: build the portable bitset sketch
    over lineitem.l_orderkey, probe the 10 lowest existing orderkeys
    (must all be present — no false negatives) and 10 keys past
    max(o_orderkey) (absent unless a deterministic false positive,
    which the oracle reproduces bit-for-bit)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    bits = K.bloom_build(li, "l_orderkey")
    lowest = (
        li.select("l_orderkey").distinct().orderBy("l_orderkey").limit(10)
    )
    absent = orders.agg(F.max("o_orderkey").alias("mx")).select(
        F.explode(F.expr("sequence(mx + 1, mx + 10)")).alias("l_orderkey")
    )
    return K.bloom_probe(bits, lowest.unionAll(absent), "l_orderkey")


def q_text_salient_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 salient terms per document, TF-IDF-ordered without
    floats: rank by (tf DESC, corpus-df ASC, term ASC) — the same
    ordering tf·idf induces when idf is monotone in 1/df, but
    integer-exact so the oracle can't drift.

    Scale shape: one (doc, term) aggregate, a term-keyed join against
    the corpus df table (shuffle on term — the df side is partial-
    agg'd first), then per-doc top-k inside the doc partition."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(T.tokens("text")).alias("term")
    ).where(F.length("term") > 0)
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (
        toks.groupBy("term", "doc_id")
        .agg(F.lit(1).alias("__one"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
    )
    return (
        tf.join(dfreq, "term")
        .select(
            "doc_id", "term", "tf", "df", F.row_number().over(w).alias("rk")
        )
        .where(F.col("rk") <= 3)
    )


def q_w12_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) per user — the window Spark (and ANSI
    SQL) refuse to express directly — via the first-occurrence-flag
    trick: row_number()==1 inside (user, event_type) marks the first
    sighting, a running sum of flags is the cumulative distinct count.

    Scale shape: both windows share the user_id partitioning, so this
    is ONE shuffle and two sorted passes; no distinct-state blowup."""
    ev = _t(spark, sf_dir, "events")
    w_first = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = ev.select(
        "event_id",
        "user_id",
        "ts",
        (F.row_number().over(w_first) == 1).cast("int").alias("__new"),
    )
    return flagged.select(
        "event_id",
        "user_id",
        F.sum("__new").over(w_run).alias("n_types_seen"),
    )


def q_pipeline_near_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dedup with canonical selection — the full
    production chain in one query: MinHash-LSH candidate pairs →
    large/small-star connected components → per-cluster keeper by
    max quality (micro-units, min-id tiebreak) → per-language
    survivor stats. Singletons (docs in no pair) keep themselves.

    Scale shape: every stage is the already-audited scalable form
    (band equi-join, O(log² n) star rounds, one keeper aggregate);
    the composition adds only a left join of the corpus against the
    label table and one final stats aggregate."""
    docs = _t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        docs,
        "doc_id",
        "text",
        num_hashes=MINHASH_NUM,
        bands=MINHASH_BANDS,
        threshold=MINHASH_THRESHOLD,
        shingle_k=MINHASH_K,
    )
    labels = D.near_dup_labels(pairs)
    scored = docs.select(
        "doc_id",
        "lang",
        T.quality_ppm("text").alias("q"),
        T.token_count("text").alias("nt"),
    )
    lab = (
        scored.join(labels, scored.doc_id == labels.id, "left")
        .select(
            "doc_id",
            "lang",
            "q",
            "nt",
            F.coalesce("cluster_id", "doc_id").alias("cid"),
        )
    )
    best = lab.groupBy("cid").agg(
        F.min(
            F.struct((-F.col("q")).alias("nq"), F.col("doc_id").alias("id"))
        ).alias("b")
    )
    kept = (F.col("doc_id") == F.col("b.id")).cast("int")
    return (
        lab.join(best, "cid")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(kept).alias("n_kept"),
            F.sum(F.col("nt") * kept).cast("long").alias("tokens_kept"),
        )
    )


def q_sketch_hll_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DAY HLL distinct users next to the exact count — the
    sketch-per-window form a streaming daily-uniques dashboard keeps:
    register tables group by (day, idx), so state is windows × m
    regardless of traffic.

    Scale shape: identical to sketch_hll_users with the window as the
    group key — two partial-agg shuffles, the second over ≤ m rows per
    day."""
    ev = _t(spark, sf_dir, "events")
    days = ev.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "user_id"
    )
    est = K.hll_count_distinct(days, ["day"], "user_id", seed=HLL_SEED)
    exact = days.groupBy("day").agg(
        F.count_distinct("user_id").alias("n_exact")
    )
    return exact.join(est, "day")


def q_dedup_embedding_vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized blocked cosine near-dup pairs: per-label Arrow batch
    → numpy int64 Gram matrix (operators/dedup.py::
    embedding_near_duplicates_vectorized). Same pair semantics as
    dedup_embedding but over micro-unit-quantized vectors, which is
    what makes a BLAS matmul oracle-reproducible."""
    emb = _t(spark, sf_dir, "embeddings")
    return D.embedding_near_duplicates_vectorized(
        emb, "vec_id", "embedding", "label", threshold=NEARDUP_COS
    )


def q_multimodal_frame_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-path plumbing, oracle-checked: media envelope → frame-
    sampling plan (one frame row per every_n content bytes, byte_len
    as the stub duration proxy) → per-doc frame counts. The explode is
    pure Spark — a 100 TB video table fans out to frame tasks with no
    Python and no driver-side decode; per-frame decode then rides the
    same Arrow featurizer as multimodal_features."""
    from broadway_spark.operators import multimodal as MM

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("content")
    )
    media = MM.attach_media(docs, "content", "video/stub")
    frames = MM.frame_sample_plan(media, "content", every_n=10)
    return frames.groupBy("doc_id", "byte_len").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.max("frame_idx").alias("last_frame"),
    )


def q_evt_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type: median absolute
    deviation (MAD) with the 1.4826 normal-consistency factor — the
    z-score detector's robust twin (evt_zscore breaks when the
    outliers themselves inflate the stddev; MAD does not).

    Scale shape: two sort-based percentile aggregates and one counting
    pass, medians broadcast back — the fact table streams three times
    but never shuffles on anything wider than event_type."""
    ev = _t(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5D)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "dev", F.abs(F.col("value") - F.col("med"))
    )
    stats = dev.groupBy("event_type").agg(
        F.max("med").alias("med"),
        F.expr("percentile(dev, 0.5D)").alias("mad"),
    )
    flagged = dev.join(F.broadcast(stats.select("event_type", "mad")), "event_type")
    return (
        flagged.groupBy("event_type")
        .agg(
            F.round(F.max("med"), 6).alias("med"),
            F.round(F.max("mad"), 6).alias("mad"),
            # single literal (3 × 1.4826 pre-multiplied): letting each
            # engine fold 3*1.4826 itself risks a 1-ulp constant drift
            F.sum(
                (F.col("dev") > F.lit(4.4478) * F.col("mad")).cast("int")
            ).alias("n_outliers"),
            F.count(F.lit(1)).alias("n"),
        )
    )


MIXTURE_ALPHA = 0.5
MIXTURE_BUDGET_TOKENS = 100_000


def q_sample_mixture_temperature(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Temperature-scaled language mixture (the multilingual corpus
    re-balancing rule: sampling weight ∝ n_l^α, α=0.5 — upsamples the
    tail languages a proportional mix would starve): per language the
    raw token count, the renormalized weight, and the token quota from
    a fixed budget.

    Scale shape: one aggregate to |langs| rows; the normalizing sum is
    a broadcast scalar. Exactness: counts are integers; ^α and the
    ratio are deterministic scalar double math on them, rounded 6dp;
    the quota floors to an integer."""
    docs = _t(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(
        F.sum(T.token_count("text")).cast("long").alias("n_tokens")
    )
    # weights quantized to integer micro-units BEFORE normalizing: a
    # SUM of raw pow() doubles is summation-order-dependent across
    # engines; a sum of BIGINTs is not, and the quota becomes exact
    # integer arithmetic ((wq·B) DIV tot == floor(weight·B)).
    powed = counts.select(
        "lang",
        "n_tokens",
        F.floor(
            F.pow(F.col("n_tokens").cast("double"), MIXTURE_ALPHA) * 1e6
            + F.lit(0.5)
        ).cast("long").alias("__wq"),
    )
    tot = powed.agg(F.sum("__wq").alias("__tot"))
    return (
        powed.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_tokens",
            # micro-int/micro-int → exact integer ppm (half-way class)
            X.ratio_ppm(F.col("__wq"), F.col("__tot")).alias("weight_ppm"),
            F.expr(
                f"(__wq * {MIXTURE_BUDGET_TOKENS}L) DIV __tot"
            ).alias("quota_tokens"),
        )
    )


def q_text_ttr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity signals per document: type-token ratio and
    hapax (once-only word) fraction — the vocabulary-side quality
    complement to the repetition-side Gopher signals.

    Scale shape: one posexplode + two chained hash-aggregates keyed
    (doc, token) then (doc) — partial-agg friendly throughout."""
    docs = _t(spark, sf_dir, "documents")
    per_tok = (
        docs.select("doc_id", F.explode(T.tokens("text")).alias("tok"))
        .where(F.length("tok") > 0)
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return per_tok.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        # count/count ratios → exact integer ppm, not round(,6)
        X.ratio_ppm(F.count(F.lit(1)), F.sum("c")).alias("ttr_ppm"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("n_hapax"),
        X.ratio_ppm(
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)),
            F.count(F.lit(1)),
        ).alias("hapax_ppm"),
    )


def q_pv2_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) — the inverse of pv1_pivot: wide lineitem
    measures → long (metric, value) rows via stack(), then one
    aggregate per (returnflag, metric). The stack is a per-row
    expression (no shuffle, no join); only the final tiny aggregate
    exchanges."""
    li = _t(spark, sf_dir, "lineitem")
    long = li.select(
        "l_returnflag",
        F.expr(
            "stack(3, 'quantity', l_quantity, 'price', l_extendedprice,"
            " 'discount', l_discount) AS (metric, val)"
        ),
    )
    return long.groupBy("l_returnflag", "metric").agg(
        F.count(F.lit(1)).alias("n"),
        _dsum("val").alias("sum_val"),
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
    )


def q_evt_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type co-occurrence (market-basket): for every unordered
    type pair, how many users performed both — the association
    primitive under recommender/affinity features.

    Scale shape: distinct (user, type) first (one aggregate, bounds
    the join input at users × types), then a self-equi-join on user
    — fan-out per user is ≤ |types|², a constant."""
    ev = _t(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    return (
        ut.alias("a")
        .join(ut.alias("b"), "user_id")
        .where(F.col("a.event_type") < F.col("b.event_type"))
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def q_dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH recall, measured as a first-class query: ground truth is
    the EXACT shingle-Jaccard pair set ≥ threshold (prefix-filter
    join — no false negatives, property-tested), candidates are the
    banded MinHash pairs; recall = found/true. The number an engineer
    needs before trusting the LSH path at scale, computed by the
    engine itself.

    Scale shape: both pair generators are the audited scalable forms;
    the audit adds one pair-keyed left join and a single-row
    aggregate."""
    docs = _t(spark, sf_dir, "documents")
    # ONE shingle table for both pair generators (r14): ground truth
    # and candidates score the same shingle sets, so the explode+hash
    # shingling pass runs once, not once per generator.
    shingled = materialize(
        T.shingle_table(docs, "doc_id", "text", MINHASH_K),
        "lsh_recall_shingles",
    )
    sh = shingled.select(
        F.col("__id").alias("doc_id"), F.col("__sh").alias("toks")
    )
    exact = D.jaccard_pairs_prefix_filter(
        sh,
        "doc_id",
        "toks",
        MINHASH_THRESHOLD,
        # r15: keeps a small consistent edge in the same-window A/Bs
        # (+0.1/+0.5 s without it) — the barrier caches the projected
        # (__id, __toks, __n) form so the verify branches skip the
        # re-projection of the shared shingle cache.
        materialize_base=True,
    )
    lsh = D.minhash_lsh_pairs_from_shingles(
        shingled,
        num_hashes=MINHASH_NUM,
        bands=MINHASH_BANDS,
        threshold=MINHASH_THRESHOLD,
    )
    found = exact.select("id_a", "id_b").join(
        lsh.select("id_a", "id_b").withColumn("__f", F.lit(1)),
        ["id_a", "id_b"],
        "left",
    )
    return found.agg(
        F.count(F.lit(1)).alias("n_true"),
        F.sum(F.coalesce(F.col("__f"), F.lit(0)))
        .cast("long")
        .alias("n_found"),
        # count/count → exact integer ppm (half-way class)
        X.ratio_ppm(
            F.sum(F.coalesce(F.col("__f"), F.lit(0))), F.count(F.lit(1))
        ).alias("recall_ppm"),
    )


def q_emb_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding QA: per-label L2-norm distribution fences (p5/p95 of
    the exact integer squared norm) and how many vectors fall outside
    — catches collapsed (near-zero) and exploded embeddings before
    they poison an ANN index. Integer squared norms keep the
    percentile input exact; fences compare integers only.

    Scale shape: one per-row fold (no shuffle), the per-label rank on
    the distributed prefix-sum core (the handful-of-labels domain
    never bounds parallelism), per-label totals broadcast, fences
    broadcast back for the counting pass."""
    emb = _t(spark, sf_dir, "embeddings")
    micro = "transform(embedding, x -> cast(round(x * 1e6) as bigint))"
    sq = emb.select(
        "label",
        "vec_id",
        F.expr(
            f"aggregate({micro}, 0L, (a, x) -> a + x * x)"
        ).alias("sq"),
    )
    # DISCRETE rank fences (k-th smallest), not interpolated
    # percentiles: at ~1e12 magnitudes the interpolation arithmetic
    # differs across engines in the last float digits, and round(...,6)
    # preserves the noise. Rank selection stays integer-exact. Ties in
    # sq are broken by vec_id — any tie order yields the same k-th
    # VALUE (ties are adjacent), the strict order just keeps the rank
    # assignment engine-deterministic.
    per_label_n = sq.groupBy("label").agg(
        F.count(F.lit(1)).cast("int").alias("n")
    )
    ranked = (
        B.running_sums_distributed(
            sq,
            ["label"],
            [F.col("sq").asc(), F.col("vec_id").asc()],
            {"rn": F.lit(1).cast("long")},
        )
        .join(F.broadcast(per_label_n), "label")
        .select("label", "sq", F.col("rn").cast("int").alias("rn"), "n")
    )
    # integer ceil: k_lo = ⌈n/20⌉, k_hi = ⌈19n/20⌉ — no float ceil
    k_lo = F.expr("(n + 19) DIV 20")
    k_hi = F.expr("(19 * n + 19) DIV 20")
    fences = ranked.groupBy("label").agg(
        F.min(F.when(F.col("rn") == k_lo, F.col("sq"))).alias("lo"),
        F.min(F.when(F.col("rn") == k_hi, F.col("sq"))).alias("hi"),
    )
    flagged = sq.join(F.broadcast(fences), "label")
    return flagged.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("lo").alias("p5_sq"),
        F.max("hi").alias("p95_sq"),
        F.sum(
            ((F.col("sq") < F.col("lo")) | (F.col("sq") > F.col("hi")))
            .cast("int")
        ).alias("n_outliers"),
    )


def q_cdc_upsert_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log compaction with tombstones (latest-wins upsert): the
    event stream is read as a change log keyed by user — the newest
    record per key wins, and keys whose newest record is a tombstone
    ('error' rows stand in for deletes) drop out of the compacted
    state. The lakehouse MERGE/compaction primitive as one aggregate.

    Scale shape: ONE hash-aggregate (max-struct by (ts, event_id) is
    partial-agg friendly) — no join against the base table, no sort;
    the exchange carries one struct per key."""
    ev = _t(spark, sf_dir, "events")
    probe = F.struct("ts", "event_id", "event_type", "value")
    latest = ev.groupBy("user_id").agg(
        F.max(probe).alias("b"), F.count(F.lit(1)).alias("n_versions")
    )
    return latest.where(F.col("b.event_type") != "error").select(
        "user_id",
        F.col("b.event_id").alias("last_event_id"),
        F.col("b.value").alias("last_value"),
        "n_versions",
    )


def q_cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history build: each user's change log becomes
    versioned validity intervals [valid_from, valid_to) with an
    is_current flag — the dimension-history shape every warehouse
    derives from a CDC feed.

    Scale shape: one lead() window inside the user partition (the
    same single shuffle a sessionization pays); intervals never
    self-join."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    fmt = "yyyy-MM-dd HH:mm:ss"
    return ev.select(
        "user_id",
        "event_id",
        F.col("value").alias("attr_value"),
        F.date_format("ts", fmt).alias("valid_from"),
        F.coalesce(
            F.date_format(F.lead("ts").over(w), fmt), F.lit("9999-12-31")
        ).alias("valid_to"),
        F.lead("ts").over(w).isNull().cast("int").alias("is_current"),
    )


def q_evt_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-diversity score per user: total surprisal of their
    event-type stream in INTEGER bits (length(bin(n DIV c)) per
    event, the same libm-free surrogate as text_surprisal — ln()
    differs between JVM and C runtimes, bit lengths do not).
    Low bits = monotone bot-like streams; high bits = diverse organic
    behavior.

    Scale shape: two chained aggregates sharing the user_id key."""
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy("user_id")
    n = F.sum("c").over(w)
    bits = F.length(F.expr("bin(n DIV c)"))
    return (
        counts.withColumn("n", n)
        .groupBy("user_id")
        .agg(
            F.max("n").cast("long").alias("n_events"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum(bits * F.col("c")).cast("long").alias("surprisal_bits"),
        )
    )


def q_graph_supplier_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite importance rank: a supplier scores the sum over its
    parts of 1e6 DIV (number of suppliers for that part) — suppliers
    of scarce parts rank high (one power-iteration step of a
    part→supplier random walk, in integer micro-units so the sum is
    associative and engine-exact).

    Scale shape: one distinct aggregate to (part, supplier) edges,
    one part-degree aggregate joined back on part, one supplier sum.
    All equi-keyed; no iteration state on the driver."""
    li = _t(spark, sf_dir, "lineitem")
    edges = li.select("l_partkey", "l_suppkey").distinct()
    deg = edges.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("deg"))
    scored = edges.join(deg, "l_partkey").select(
        "l_suppkey", F.expr("1000000 DIV deg").alias("share")
    )
    ranked = scored.groupBy("l_suppkey").agg(
        F.sum("share").cast("long").alias("rank_micro"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    # top-k FIRST (distributed TakeOrdered), then rank the 25
    # survivors — a global row_number window would single-partition
    # the whole table.
    top = ranked.orderBy(
        F.col("rank_micro").desc(), F.col("l_suppkey").asc()
    ).limit(25)
    w = Window.orderBy(F.col("rank_micro").desc(), F.col("l_suppkey").asc())
    return top.select(
        "l_suppkey", "rank_micro", "n_parts", F.row_number().over(w).alias("rk")
    )


def q_pipeline_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full 'make the training mix' chain in one query: quality +
    length gate → exact-dedup keeper → temperature-scaled (n^α)
    per-language quotas over the SURVIVING corpus → per-language mix
    stats. Composes the gate, dedup, and mixture operators end to end
    the way a data-curation run actually does.

    Scale shape: each stage is the audited form; nothing new joins on
    text, and the mixture normalizer stays an integer broadcast."""
    docs = _t(spark, sf_dir, "documents")
    qm = T.quality_ppm("text")
    scored = docs.select(
        "doc_id",
        "lang",
        T.token_count("text").alias("nt"),
        qm.alias("q"),
        F.md5("text").alias("fp"),
    ).where(
        (qm >= X.ppm(CORPUS_MIN_QUALITY))
        & (F.col("nt") >= CORPUS_MIN_TOKENS)
        & (F.col("nt") <= CORPUS_MAX_TOKENS)
    )
    kept = (
        scored.groupBy("fp")
        .agg(
            F.min(F.struct("doc_id", "lang", "nt")).alias("k"),
        )
        .select(
            F.col("k.doc_id").alias("doc_id"),
            F.col("k.lang").alias("lang"),
            F.col("k.nt").alias("nt"),
        )
    )
    counts = kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nt").cast("long").alias("n_tokens"),
    )
    powed = counts.select(
        "lang",
        "n_docs",
        "n_tokens",
        F.floor(
            F.pow(F.col("n_tokens").cast("double"), MIXTURE_ALPHA) * 1e6
            + F.lit(0.5)
        ).cast("long").alias("__wq"),
    )
    tot = powed.agg(F.sum("__wq").alias("__tot"))
    return powed.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "n_tokens",
        # micro-int/micro-int → exact integer ppm (half-way class)
        X.ratio_ppm(F.col("__wq"), F.col("__tot")).alias("weight_ppm"),
        F.expr(f"(__wq * {MIXTURE_BUDGET_TOKENS}L) DIV __tot").alias(
            "quota_tokens"
        ),
    )


def q_emb_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding health: mean and variance of every
    coordinate across the corpus — dead dimensions (≈0 variance) and
    runaway ones surface immediately. Sums run in integer micro-units
    (exact, associative); the variance formula
    (n·Σx² − (Σx)²) / (n·(n−1)) is then deterministic scalar math.

    Scale shape: one posexplode and ONE partial-agg shuffle down to
    64 dimension keys carrying two bigint sums each."""
    emb = _t(spark, sf_dir, "embeddings")
    micro = "transform(embedding, x -> cast(round(x * 1e6) as bigint))"
    rows = emb.select(F.posexplode(F.expr(micro)).alias("d", "xi"))
    agg = rows.groupBy((F.col("d") + 1).alias("dim_idx")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xi").alias("s1"),
        F.sum(F.col("xi") * F.col("xi")).alias("s2"),
    )
    # All-integer publication (functions/exact.py): the mean is an
    # exact truncating quotient (no double path — s1/n in double goes
    # inexact past 2^53), and the variance is a ratio of integer
    # aggregates — ppm = (n·Σx² − (Σx)²) DIV (n·(n−1)·1e6), exact at
    # any magnitude, instead of the round(,6) half-way class.
    n = F.col("n").cast("decimal(38,0)")
    s1 = F.col("s1").cast("decimal(38,0)")
    s2 = F.col("s2").cast("decimal(38,0)")
    return agg.select(
        "dim_idx",
        X.div_trunc(F.col("s1"), F.col("n")).alias("mean_micro"),
        X.div_trunc(
            n * s2 - s1 * s1, n * (n - 1) * F.lit(1_000_000)
        ).alias("variance_ppm"),
    )


def q_sample_balanced_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class balancing: downsample every language to the size of the
    SMALLEST one (deterministic hash order, not rand()) — the
    classifier-training prep where skewed classes must not dominate.
    Unlike sample_exact_k the quota is dynamic: min over group sizes,
    broadcast back.

    Scale shape: one count aggregate, a 1-row min broadcast, and the
    per-stratum hash rank on the distributed prefix-sum core — the
    quota is a dynamic column (min over group sizes), so Catalyst
    can't push a WindowGroupLimit, and a plain per-lang window would
    funnel the corpus through |langs| tasks."""
    docs = _t(spark, sf_dir, "documents")
    sizes = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    floor_n = sizes.agg(F.min("n").alias("min_n"))
    hk = F.md5(F.concat(F.lit("bal:"), F.col("doc_id").cast("string")))
    ranked = B.running_sums_distributed(
        docs.select("lang", "doc_id", hk.alias("__hk")),
        ["lang"],
        [F.col("__hk").asc(), F.col("doc_id").asc()],
        {"rk": F.lit(1).cast("long")},
    ).select("lang", "doc_id", "rk")
    picked = ranked.crossJoin(F.broadcast(floor_n)).where(
        F.col("rk") <= F.col("min_n")
    )
    return picked.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def q_ts_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth per order priority: monthly
    decimal-exact sums, lag() within the priority partition, growth
    ratio on the exact inputs. First month per priority reports NULL
    growth (no fabricated 0%).

    Scale shape: one partial-agg shuffle to (priority, month) rows,
    then a window over that tiny table."""
    orders = _t(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        "o_orderpriority",
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("__rev")
    )
    w = Window.partitionBy("o_orderpriority").orderBy("month")
    prev = F.lag("__rev").over(w)
    return monthly.select(
        "o_orderpriority",
        "month",
        F.col("__rev").cast("double").alias("rev"),
        # growth is a ratio of exact decimal sums → integer ppm
        # (truncation toward zero agrees cross-engine on negatives)
        X.ratio_ppm(F.col("__rev") - prev, prev).alias("mom_growth_ppm"),
    )


def q_agg_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-spend decile report: exact per-customer totals,
    ntile(10) over (spend DESC, custkey) — fully deterministic tiling
    — then per-decile count and decimal-exact sum/min/max.

    Scale shape (r10 rewrite, r9 verdict item 2): the tiling runs as
    operators/ranking.with_exact_ntile — range-partitioned rank +
    closed-form tile — NOT an un-partitioned ntile window, so no
    single task ever holds all |customers| rows. Bit-identical to the
    window form (the oracle twin still says ntile(10))."""
    orders = _t(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        _dsum("o_totalprice").alias("spend")
    )
    tiled = RK.with_exact_ntile(
        spend,
        [F.col("spend").desc(), F.col("o_custkey").asc()],
        10,
        "decile",
    ).select("spend", "decile")
    return tiled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum(F.col("spend").cast("decimal(18,2)")).cast("double"), 2)
        .alias("total_spend"),
        F.round(F.min("spend"), 2).alias("min_spend"),
        F.round(F.max("spend"), 2).alias("max_spend"),
    )


def q_agg_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency (days since last order,
    against the corpus max date so the query is reproducible),
    frequency (order count), monetary (decimal-exact spend) →
    quartile codes via deterministic ntile(4) with custkey tiebreaks
    → segment population report. The classic CRM scoring chain as one
    declarative query.

    Scale shape: one customer aggregate; three exact-ntile passes
    (operators/ranking — range-partitioned rank + closed-form tile,
    the r10 rewrite; previously three un-partitioned ntile windows
    that each single-tasked all |customers| rows); one final tiny
    aggregate keyed by the 64 possible codes."""
    orders = _t(spark, sf_dir, "orders")
    maxd = orders.agg(F.max("o_orderdate").alias("maxd"))
    per_cust = (
        orders.crossJoin(F.broadcast(maxd))
        .groupBy("o_custkey")
        .agg(
            F.min(
                F.datediff(F.col("maxd"), F.col("o_orderdate"))
            ).alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            _dsum("o_totalprice").alias("monetary"),
        )
    )
    scored = per_cust
    for col, asc, name in (
        ("recency_days", True, "r"),
        ("frequency", False, "f_"),
        ("monetary", False, "m"),
    ):
        scored = RK.with_exact_ntile(
            scored,
            [
                F.col(col).asc() if asc else F.col(col).desc(),
                F.col("o_custkey").asc(),
            ],
            4,
            name,
        )
    return scored.groupBy("r", "f_", "m").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(
            F.sum(F.col("monetary").cast("decimal(18,2)")).cast("double"), 2
        ).alias("segment_value"),
    )


_STREAM_DRAIN_SEQ = [0]


def q_s7_stream_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING on the oracle gate: a real Structured Streaming query
    (file stream source over the events parquet → stateful complete-
    mode aggregate → memory sink, Trigger.AvailableNow) whose drained
    result must hash-match the DuckDB batch oracle. Proves the
    streaming engine computes the same answers as the batch path —
    not just that it runs (decimal sums make the streamed aggregation
    order-independent, so the equality is exact).

    Scale shape: identical to the batch aggregate — partial-agg state
    per (event_type), one exchange; availableNow chunks the backlog
    into bounded micro-batches exactly as a backfill would at 100 TB."""
    import os

    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    if os.path.isdir(path):
        # datagen wrote a parquet DIRECTORY — stream it directly
        stream = spark.readStream.schema(schema).parquet(path)
    else:
        # single file: the file stream source wants a directory, so
        # stream the sf_dir with a glob selecting just this table
        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        _dsum("value").alias("sum_value"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )
    _STREAM_DRAIN_SEQ[0] += 1
    qname = f"s7_stream_drain_{_STREAM_DRAIN_SEQ[0]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(120):
        q.stop()
        raise RuntimeError(f"{qname} did not drain in 120s")
    return spark.table(qname)


def q_s8_stream_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATEFUL streaming on the oracle gate: event-time tumbling
    windows (the streaming state store, not just a running aggregate)
    drained with availableNow and hash-checked against the batch
    date_trunc oracle. With s7 this covers both halves of the
    streaming engine — stateless scan and windowed state.

    Scale shape: watermark-free complete mode here because the drain
    is finite; the windowed aggregate itself is the same partial-agg
    state per (window, type) a live pipeline carries."""
    import os

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    stream = (
        reader.parquet(path)
        if os.path.isdir(path)
        else reader.option("pathGlobFilter", "events.parquet").parquet(
            sf_dir
        )
    )
    ts_type = {f.name: f.dataType.simpleString() for f in schema.fields}.get(
        "ts"
    )
    if ts_type == "bigint":
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000"))
        )
    else:
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = stream.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"), _dsum("value").alias("sum_value")
    )
    out = agg.select(
        F.date_format("w.start", "yyyy-MM-dd HH:00").alias("bucket"),
        "event_type",
        "n",
        "sum_value",
    )
    _STREAM_DRAIN_SEQ[0] += 1
    qname = f"s8_stream_window_{_STREAM_DRAIN_SEQ[0]}"
    q = (
        out.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(120):
        q.stop()
        raise RuntimeError(f"{qname} did not drain in 120s")
    return spark.table(qname)


def q_ts_order_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase intervals: per customer the day gaps between
    consecutive orders (lag within the customer partition), rolled up
    per order priority of the later order — the repeat-purchase-cadence
    metric behind retention curves. Integer day diffs keep the
    averages exact (decimal sum / count).

    Scale shape: one lag() window keyed on customer, one small
    aggregate; no self-join of orders against itself."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = orders.select(
        "o_orderpriority",
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).alias("gap_days"),
    ).where(F.col("gap_days").isNotNull())
    return gaps.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        # int-sum / count → exact integer ppm (half-way class)
        X.ratio_ppm(
            F.sum(F.col("gap_days").cast("long")), F.count(F.lit(1))
        ).alias("avg_gap_ppm"),
        F.min("gap_days").alias("min_gap"),
        F.max("gap_days").alias("max_gap"),
    )


def q_text_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document novelty: the fraction of each doc's DISTINCT
    bigrams that appear in no other document — the
    memorization/contamination risk signal (hapax measures
    within-doc rarity; this measures corpus-level uniqueness).

    Scale shape: the shared lead-window bigram gather, one df
    aggregate keyed on the bigram, one join back and a per-doc
    fraction — all equi-keyed, text never shuffles."""
    docs = _t(spark, sf_dir, "documents")
    bg = T.shingle_rows(docs, "doc_id", "text", 2)
    dfreq = bg.groupBy("__sh").agg(F.count(F.lit(1)).alias("df"))
    joined = bg.join(dfreq, "__sh")
    return (
        joined.groupBy(F.col("__id").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias(
                "n_unique"
            ),
            # count/count → exact integer ppm (half-way class)
            X.ratio_ppm(
                F.sum(F.when(F.col("df") == 1, 1).otherwise(0)),
                F.count(F.lit(1)),
            ).alias("novelty_ppm"),
        )
    )


HARD_NEG_BANDS = 8


def q_sample_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: the LSH band
    collisions that exact verification REJECTS (jaccard below the
    near-dup threshold) are exactly the confusable-but-distinct pairs
    a retrieval model should learn to separate. Top-3 hardest (highest
    sub-threshold similarity) per anchor doc.

    Scale shape: reuses the audited LSH candidate generator (band
    equi-join, never all-pairs); the per-anchor top-k ranks inside the
    anchor's own small candidate partition."""
    docs = _t(spark, sf_dir, "documents")
    scored = D.minhash_lsh_pairs(
        docs,
        "doc_id",
        "text",
        num_hashes=MINHASH_NUM,
        bands=HARD_NEG_BANDS,
        threshold=None,
        shingle_k=MINHASH_K,
    ).where(F.col("jaccard_ppm") < X.ppm(MINHASH_THRESHOLD))
    # NOTE: bands=HARD_NEG_BANDS (8, rows_per_band 2) — deliberately
    # MORE promiscuous than the dedup layout: mining wants the
    # near-miss collisions dedup's selective bands suppress.
    w = Window.partitionBy("id_a").orderBy(
        F.col("jaccard_ppm").desc(), F.col("id_b").asc()
    )
    return scored.select(
        "id_a", "id_b", "jaccard_ppm", F.row_number().over(w).alias("rk")
    ).where(F.col("rk") <= 3)


def q_evt_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness per day — the product
    engagement headline. Exact (no sketch): the trailing distinct
    union is a (day, user) distinct table joined to a day spine over
    a 7-day range, re-distinct'd — state is bounded by
    active-users × 7, never raw events.

    Scale shape: one distinct aggregate to (day, user); the range
    join fans each row out ≤ 7×; two small aggregates. At 100 TB the
    (day, user) table is the natural pre-aggregation every metrics
    store keeps anyway."""
    ev = _t(spark, sf_dir, "events")
    du = ev.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "user_id"
    ).distinct()
    dau = du.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    # Scale-right trailing window: EXPLODE each active (day, user) into
    # the ≤7 window-end days it contributes to, then distinct + count —
    # pure equi operations (an inequality day-range join would plan as
    # a nested-loop). The inner join against dau drops the phantom
    # window-ends past the last active day.
    contrib = du.select(
        F.explode(
            F.expr("sequence(to_date(day), date_add(to_date(day), 6))")
        ).alias("__d"),
        "user_id",
    ).select(F.date_format("__d", "yyyy-MM-dd").alias("day"), "user_id")
    wau = (
        contrib.distinct()
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("wau"))
    )
    return dau.join(wau, "day").select(
        "day",
        "dau",
        "wau",
        # count/count → exact integer ppm (half-way class)
        X.ratio_ppm(F.col("dau"), F.col("wau")).alias("stickiness_ppm"),
    )


def q_dedup_body_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-insensitive exact dedup: fingerprint the document
    BODY (tokens from position 11 on), so docs identical up to an
    injected header/footer prefix collapse into one group — the
    template-crawl variant plain exact dedup misses. Min-id keeper,
    same deterministic contract as dedup_exact.

    Scale shape: one per-row slice+hash expression, one hash-aggregate
    keyed on the digest. Docs with ≤10 tokens have NO body — they get a
    NULL fingerprint and are excluded, instead of all collapsing into
    one md5('') mega-group of unrelated short docs. Slice length is
    999990 so positions 11..1000000 match the oracle's inclusive-end
    [11:1000000] exactly."""
    docs = _t(spark, sf_dir, "documents")
    body = F.expr(
        "CASE WHEN size(split(lower(text), ' ')) > 10 THEN "
        "md5(array_join(slice(split(lower(text), ' '), 11, 999990), ' ')) "
        "END"
    )
    return (
        docs.select(body.alias("fp"), "doc_id")
        .where(F.col("fp").isNotNull())
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("keeper_id", "n_copies")
    )


def _drain_handle_batch(name, pdf):
    """handle_batch hook for the topology-drain gate query: billing
    batches get their value doubled (a visible, oracle-exact per-batch
    transform — 2x is lossless in IEEE754); other batchers identity.
    Must return exactly the rows received (batch_processor_stage.ex
    all-messages contract)."""
    if name == "billing":
        pdf = pdf.assign(value=pdf["value"] * 2.0)
    return pdf


def q_pipeline_topology_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE STREAMING ROUTER ON THE ORACLE GATE: a full Broadway
    topology — file-stream source → transformer → handle_message
    (failure diversion + flush mode + early/retry ack policies) →
    route_by → batch_key → size- AND budget-chunking batchers →
    handle_batch (applyInPandas, billing values doubled) →
    handle_failed → parquet sinks + DLQ + ack log — drained with
    Trigger.AvailableNow, then summarized: ack-log counts per
    (batcher, outcome, trigger), per-sink row counts + decimal-exact
    value sums, and DLQ counts per retry|terminal disposition. The
    DuckDB twin recomputes every number from events.parquet with
    window functions — reference drain-completeness semantics
    test/broadway_test.exs:2467-2548; trigger labels batch_info.ex:40-41.

    Determinism: the input is one parquet file, so availableNow is
    exactly one micro-batch; chunk assignment orders by event_id
    within (batcher, batch_key); every hook is deterministic.

    Scale shape: the drain IS the production pipeline — one streaming
    query, shuffles only at the per-batcher chunking window; the
    summary reads back the sinks (scans + partial aggs)."""
    import os
    import tempfile
    import uuid as _uuid

    from broadway_spark import message as M
    from broadway_spark.config import (
        BatcherConfig,
        SinkConfig,
        TopologyConfig,
    )
    from broadway_spark.plans import Pipeline
    from broadway_spark.sources import FileStreamSource

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    if os.path.isdir(path):
        src = FileStreamSource("events", path, schema)
    else:
        src = FileStreamSource(
            "events",
            sf_dir,
            schema,
            options={"pathGlobFilter": "events.parquet"},
        )
    base = tempfile.mkdtemp(prefix="bw_drain_")

    def d(sub: str) -> str:
        return os.path.join(base, sub)

    def handle_message(df):
        df = FL.with_status(
            df, F.col("event_type") == "error", "poison:error-event"
        )
        # Integer budget weight (cents): a float running sum's chunk
        # boundary can flip by one row between engines at scale
        # (different summation trees → one ulp → floor() flip; seen at
        # sf0.1), while a BIGINT prefix sum is order-independent and
        # exact everywhere. Integer weights are also the realistic
        # production form (byte budgets).
        df = df.withColumn(
            "w_cents", F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")
        )
        # B4 flush mode: signups bypass batch accumulation
        df = df.withColumn(
            "batch_mode",
            F.when(F.col("event_type") == "signup", F.lit("flush")).otherwise(
                F.col("batch_mode")
            ),
        )
        # A3 ack_immediately on a deterministic slice of ok rows
        df = M.ack_immediately(
            df,
            when=(F.col("event_type") != "error")
            & (F.col("user_id") % 7 == 0),
        )
        # A4 configure_ack: some failures are redelivery-owned (no ack)
        df = M.configure_ack(
            df,
            "retry",
            when=(F.col("event_type") == "error")
            & (F.col("user_id") % 5 == 0),
        )
        return df

    cfg = TopologyConfig(
        name=f"pipeline_drain_{_uuid.uuid4().hex[:8]}",
        transformer=lambda df: df.drop("ts"),  # ts unused; dodge type drift
        handle_message=handle_message,
        route_by=F.when(F.col("event_type") == "purchase", F.lit("billing")),
        batch_key_by=F.col("user_id") % 10,
        order_by="event_id",
        batchers={
            "billing": BatcherConfig(batch_size=16),
            "default": BatcherConfig(batch_size=("w_cents", 20000.0)),
        },
        sinks={
            "billing": SinkConfig(path=d("sink_billing")),
            "default": SinkConfig(path=d("sink_default")),
        },
        dlq=SinkConfig(path=d("dlq")),
        ack_log=SinkConfig(path=d("ack")),
        checkpoint_dir=d("ckpt"),
        handle_batch=_drain_handle_batch,
        handle_failed=lambda pdf: pdf,  # identity, exercises the hook path
        # Run the router's chunk windows and handle_batch pass at the
        # restart family's 8 partitions instead of the default 32: the
        # distinct (batcher, batch_key) space is ~20 keys, and each
        # Python-UDF task pays a fixed worker cost. Results are
        # partition-count invariant: chunk assignment is a window
        # ordered by event_id within (batcher, batch_key) and every
        # summary value is a count or decimal-exact sum.
        state_partitions=8,
    )
    q = Pipeline(cfg, src).start(spark, trigger="availableNow")
    try:
        if not q.awaitTermination(600):
            raise RuntimeError("topology drain did not complete in 600s")
    finally:
        if q.isActive:
            q.stop()

    ack = spark.read.parquet(d("ack"))
    # bsz = the chunk's row count carried on each ack row (BatchInfo
    # size) — grouping on it makes BOTH chunking algorithms' actual
    # chunk structure part of the hash (size batcher: ≤16; budget
    # batcher: variable sizes from the running-weight fold). -1 for
    # processor-stage acks (early/failed), which have no chunk.
    ack_agg = (
        ack.groupBy(
            "batcher",
            "outcome",
            F.coalesce("trigger", F.lit("-")).alias("trigger"),
            F.coalesce(F.col("batch_size").cast("bigint"), F.lit(-1)).alias(
                "bsz"
            ),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("ack").alias("section"),
            "batcher",
            "outcome",
            "trigger",
            "bsz",
            "n",
            F.lit(None).cast("double").alias("sum_value"),
        )
    )

    def sink_row(name: str):
        return (
            spark.read.parquet(d(f"sink_{name}"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                _dsum("value").alias("sum_value"),
            )
            .select(
                F.lit("sink").alias("section"),
                F.lit(name).alias("batcher"),
                F.lit("rows").alias("outcome"),
                F.lit("-").alias("trigger"),
                F.lit(-1).cast("bigint").alias("bsz"),
                "n",
                "sum_value",
            )
        )

    dlq_agg = (
        spark.read.parquet(d("dlq"))
        .groupBy("batcher", "dlq_disposition")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dsum("value").alias("sum_value"),
        )
        .select(
            F.lit("dlq").alias("section"),
            "batcher",
            F.col("dlq_disposition").alias("outcome"),
            F.lit("-").alias("trigger"),
            F.lit(-1).cast("bigint").alias("bsz"),
            "n",
            "sum_value",
        )
    )
    return (
        ack_agg.unionByName(sink_row("billing"))
        .unionByName(sink_row("default"))
        .unionByName(dlq_agg)
    )


def q_s10_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformWithStateInPandas ON THE ORACLE GATE: unbounded exact
    streaming dedup (streaming/stateful_dedup.py — per-key ValueState
    in RocksDB, first occurrence wins, state never expires) drained
    over the events file and hash-checked against the batch
    first-occurrence oracle. With s7/s8 (scan, windowed aggs), s9
    (applyInPandasWithState timers) and the router drain, every
    streaming state backend the engine uses is now oracle-verified.

    Determinism: one input file → first occurrence per key = the min
    event_id row, independent of micro-batch decomposition (the
    processor keeps the order_by-first row across batches).

    Scale shape: state = one boolean per distinct key, sharded by the
    key hash across executors' RocksDB stores — corpus-lifetime dedup
    whose capacity scales with cluster disk, not heap."""
    import os
    import tempfile
    import uuid as _uuid

    from broadway_spark.streaming.stateful_dedup import (
        streaming_exact_dedup,
        use_rocksdb_state,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    stream = (
        reader.parquet(path)
        if os.path.isdir(path)
        else reader.option("pathGlobFilter", "events.parquet").parquet(sf_dir)
    )
    slim = stream.select("user_id", "event_id", "event_type", "value")
    prev_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    use_rocksdb_state(spark)
    spark.conf.set("spark.sql.shuffle.partitions", "8")  # tiny key space
    ckpt = tempfile.mkdtemp(prefix="bw_s10_")
    qname = f"s10_stream_dedup_{_uuid.uuid4().hex[:8]}"
    try:
        deduped = streaming_exact_dedup(
            slim, ["user_id"], order_by="event_id"
        )
        q = (
            deduped.writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(240):
            q.stop()
            raise RuntimeError(f"{qname} did not drain in 240s")
    finally:
        if prev_provider is not None:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev_provider
            )
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)
    return spark.table(qname)


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a streaming DataFrame with ts normalized to
    TIMESTAMP (the same drift handling as the batch-side ``_t``)."""
    import os

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    stream = (
        reader.parquet(path)
        if os.path.isdir(path)
        else reader.option("pathGlobFilter", "events.parquet").parquet(sf_dir)
    )
    ts_type = {f.name: f.dataType.simpleString() for f in schema.fields}.get(
        "ts"
    )
    if ts_type == "bigint":
        return stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000"))
        )
    return stream.withColumn("ts", F.col("ts").cast("timestamp"))


def _pinned_state_partitions(spark: SparkSession, n: int = 8):
    """Pin spark.sql.shuffle.partitions around a raw writeStream query
    start (the query captures the conf then; restore after). Pipeline
    queries take the width from TopologyConfig.state_partitions instead.
    Stateful gate drains carry a per-partition state-store init/commit
    cost PER micro-batch that dwarfs the data at gate scale — measured
    on the r6 restart joins: 32→8 partitions took s17 18.6→4.3 s and s16
    11.6→4.7 s at sf0.1. At 100 TB the same knob sizes state shards
    to the cluster (state_partitions in TopologyConfig); 8 matches the
    gate's tiny key space, the convention s9/s10/s15/s18 already use."""
    from contextlib import contextmanager

    @contextmanager
    def _cm():
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
        try:
            yield
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    return _cm()


def _purchase_click_sides(
    ev: DataFrame,
    with_click_id: bool = True,
    purchase_user: str = "user_id",
):
    """The canonical watermarked purchases/clicks join sides shared by
    the whole stream-join family (s12/s17/s22/s24/s26/s29/s31 — the r9
    self-review's factor-this maintenance item): purchases as
    (purchase_id, <purchase_user>, p_ts), clicks as ([click_id,]
    c_user, c_ts), both watermarked 1 hour. Semi/anti consumers set
    ``with_click_id=False`` — existence checks carry no click payload;
    the full-outer twins alias the purchase user to ``p_user`` so both
    sides' users survive for the COALESCE."""
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias(purchase_user),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    click_cols = [
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    ]
    if with_click_id:
        click_cols.insert(0, F.col("event_id").alias("click_id"))
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(*click_cols)
        .withWatermark("c_ts", "1 hour")
    )
    return purchases, clicks


def _click_window_cond(purchase_user: str = "user_id"):
    """Same-user click within the hour preceding the purchase — the
    time-bounded join condition that keeps stream-join state evictable
    (1 h per key)."""
    return (
        (F.col(purchase_user) == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts"))
    )


def q_s12_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM JOIN ON THE ORACLE GATE: purchases joined to the
    same user's clicks within the preceding hour — the canonical
    watermarked event-time range join (both sides watermarked 1 h,
    time-bounded condition so state is evictable). Inner-join matches
    emit as they arrive (the watermark bounds STATE, not emission), so
    a full availableNow drain yields exactly the batch join — the
    DuckDB twin is the plain time-range join.

    Scale shape: the join shuffles both sides on user_id; the range
    condition bounds per-key state to one hour of events — this is the
    standard attribution-join plan at any scale."""
    import uuid as _uuid

    ev = _events_stream(spark, sf_dir)
    purchases, clicks = _purchase_click_sides(ev)
    joined = purchases.join(clicks, _click_window_cond()).select(
        "purchase_id",
        "click_id",
        "user_id",
        (
            F.unix_micros(F.col("p_ts")) - F.unix_micros(F.col("c_ts"))
        ).alias("gap_micros"),
    )
    qname = f"s12_stream_join_{_uuid.uuid4().hex[:8]}"
    with _pinned_state_partitions(spark):
        q = (
            joined.writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
    if not q.awaitTermination(240):
        q.stop()
        raise RuntimeError(f"{qname} did not drain in 240s")
    return spark.table(qname)


def q_s29_stream_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-SEMI STREAM-STREAM JOIN ON THE ORACLE GATE: purchases
    that had at least one same-user click in the preceding hour —
    the streaming EXISTS, completing the stream-stream join family
    (inner s12, left-outer s22, full-outer s24; left-anti is the one
    variant Spark's state store does not support, documented here).
    Semi semantics de-duplicate by construction: a purchase emits
    exactly ONCE however many clicks match, which is what makes this
    cheaper than inner-join-plus-distinct at scale — the click side
    contributes existence bits, not rows. Matches emit as they
    arrive, so a full availableNow drain equals the batch EXISTS —
    the DuckDB twin verbatim.

    Scale shape: identical to s12 — both sides shuffle on user, the
    1 h range bound caps per-key state; the semi join's output never
    multiplies rows, so downstream stages see ≤ |purchases|."""
    import uuid as _uuid

    ev = _events_stream(spark, sf_dir)
    purchases, clicks = _purchase_click_sides(ev, with_click_id=False)
    joined = purchases.join(
        clicks,
        _click_window_cond(),
        "left_semi",
    ).select(
        "purchase_id",
        "user_id",
        F.unix_micros(F.col("p_ts")).alias("p_us"),
    )
    qname = f"s29_semi_{_uuid.uuid4().hex[:8]}"
    with _pinned_state_partitions(spark):
        q = (
            joined.writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
    if not q.awaitTermination(240):
        q.stop()
        raise RuntimeError(f"{qname} did not drain in 240s")
    return spark.table(qname)


def q_s32_stream_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-ANTI STREAM-STREAM JOIN ON THE ORACLE GATE (r9 verdict
    item 5 — the one join-family variant Spark's state store does not
    offer, emulated): purchases with NO same-user click in the
    preceding hour — the streaming NOT EXISTS, dual of s29's EXISTS.
    streaming/stream_anti_join.py buffers undecided purchases in
    transformWithStateInPandas ListState and decides each one when
    the watermark passes its event time (any later click ≤ that time
    would be dropped as late, so "no match yet" has become "no match
    ever"); right-side state is purged below watermark − 1 h. The
    emitted set is exactly the purchases the final watermark decided
    — the DuckDB twin applies the same ms-granular cutoff as a scalar
    predicate, with the NOT EXISTS at full microsecond precision.

    Scale shape: state shuffles on user like any stream-stream join;
    per-key state is bounded by the 1 h lookback horizon (clicks) +
    undecided purchases above the watermark, RocksDB-backed."""
    import os
    import tempfile
    import uuid as _uuid

    from broadway_spark.streaming.stateful_dedup import scoped_rocksdb_state
    from broadway_spark.streaming.stream_anti_join import (
        streaming_left_anti_join,
    )

    ev = _events_stream(spark, sf_dir).filter(
        F.col("event_type").isin("purchase", "click")
    )
    anti = streaming_left_anti_join(
        ev,
        key_col="user_id",
        is_left=F.col("event_type") == "purchase",
        left_id="event_id",
        ts_col="ts",
        lookback_ms=3_600_000,
        watermark_delay="1 hour",
    ).select(
        F.col("left_id").alias("purchase_id"),
        F.col("key").alias("user_id"),
        F.col("ts_us").alias("p_us"),
    )
    qname = f"s32_anti_{_uuid.uuid4().hex[:8]}"
    base = tempfile.mkdtemp(prefix="bw_s32_")
    # scoped: the RocksDB provider applies to THIS start only — a
    # session-global set leaked into every later drain of a bench
    # pass (measured: broad drain slowdown, r10 bench run 1)
    with scoped_rocksdb_state(spark), _pinned_state_partitions(spark):
        q = (
            anti.writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(base, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
    if not q.awaitTermination(240):
        q.stop()
        raise RuntimeError(f"{qname} did not drain in 240s")
    return spark.table(qname)


def q_s33_restart_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECKPOINT-RESTART EQUIVALENCE, LEFT-ANTI stream-stream join:
    the s32 NOT-EXISTS emulation killed after the first committed
    batch, resumed, drained availableNow. The anti join's restart
    hazard is the exact DUAL of s31's: there a lost already-emitted
    bit re-emits a matched row (hidden duplicate); here a lost
    right-side buffer entry would fabricate a FALSE POSITIVE — a
    purchase emitted as "never clicked" whose click arrived before
    the kill. Both are closed the same way: ListState commits
    atomically with the micro-batch, so the resume rolls back to the
    last committed state version and replays the in-flight batch
    against it. In-order staged arrival (ntile ts split) means no
    late data; the resumed drain equals the batch NOT EXISTS with
    the final-watermark cutoff — the s32 oracle verbatim."""
    import os
    import tempfile

    from broadway_spark.streaming.stateful_dedup import scoped_rocksdb_state
    from broadway_spark.streaming.stream_anti_join import (
        streaming_left_anti_join,
    )

    watch, schema, _n = _stage_event_files(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="bw_s33_")
    sink, ckpt = os.path.join(base, "sink"), os.path.join(base, "ckpt")

    def build(files_per_trigger: int | None = 1):
        # run 1 paces one file per trigger so the kill lands mid-drain
        # with files left over; the RESUME lifts the cap — the decided
        # set depends only on the FINAL watermark, not on how the
        # remaining files split into batches, and each extra batch
        # costs a fixed stateful-commit round (the r10 verdict's
        # drain-toolkit item for this family)
        ev = _staged_events_stream(
            spark, watch, schema, files_per_trigger
        ).filter(F.col("event_type").isin("purchase", "click"))
        return streaming_left_anti_join(
            ev,
            key_col="user_id",
            is_left=F.col("event_type") == "purchase",
            left_id="event_id",
            ts_col="ts",
            lookback_ms=3_600_000,
            watermark_delay="1 hour",
        ).select(
            F.col("left_id").alias("purchase_id"),
            F.col("key").alias("user_id"),
            F.col("ts_us").alias("p_us"),
        )

    writer = _idempotent_parquet_writer(sink)
    # scoped RocksDB on BOTH starts (kill + resume) — never leaked to
    # later queries of the session (r10 bench finding)
    #
    # s33 keeps the 1 s kill-phase cadence (the ONE restart drain
    # where the r15 idle-gap lift LOST: 10s arm 11.6 vs 1s arm 9.4
    # same-window A/B — its Python-state anti-join resume pays more
    # for the extra file in the packed availableNow batch than the
    # faster stop() saves; every sibling drain won or tied, see
    # OPTIMIZATION_r15.md).
    with scoped_rocksdb_state(spark), _pinned_state_partitions(spark):
        q = (
            build()
            .writeStream.foreachBatch(writer)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="1 second")
            .start()
        )
    _kill_mid_drain(q)
    with scoped_rocksdb_state(spark), _pinned_state_partitions(spark):
        q2 = (
            build(files_per_trigger=None)
            .writeStream.foreachBatch(writer)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
    try:
        if not q2.awaitTermination(600):
            raise RuntimeError("s33 resume did not complete in 600s")
    finally:
        if q2.isActive:
            q2.stop()
    return spark.read.parquet(sink).select("purchase_id", "user_id", "p_us")


_DOC_STAGE_CACHE: dict = {}


def _stage_document_files(spark: SparkSession, sf_dir: str, m: int = 4):
    """Stage documents.parquet as ``m`` single parquet files holding
    contiguous doc_id-ordered row ranges, mtime-ordered so the file
    source processes them oldest-first one per micro-batch — the
    document-table sibling of ``_stage_event_files`` (no time
    contiguity constraint: the quality gate is watermark-free, the
    split only has to be deterministic). Same one-job partitionBy
    write. Returns (watch_dir, schema, n_rows)."""
    import glob as _glob
    import os
    import shutil as _shutil
    import tempfile
    import time as _time

    cached = _DOC_STAGE_CACHE.get((sf_dir, m))
    if cached is not None and os.path.isdir(cached[0]):
        return cached

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    tiled = docs.withColumn(
        "file_idx", F.ntile(m).over(Window.orderBy("doc_id")) - 1
    )
    base = tempfile.mkdtemp(prefix="bw_docstage_")
    watch = os.path.join(base, "src")
    os.makedirs(watch)
    stage = os.path.join(base, "_stage")
    (
        tiled.withColumn("file_part", F.col("file_idx"))
        .repartition(m, "file_part")
        .sortWithinPartitions("doc_id")
        .drop("file_idx")
        .write.partitionBy("file_part")
        .mode("overwrite")
        .parquet(stage)
    )
    t0 = _time.time() - 7200
    for i in range(m):
        part = _glob.glob(
            os.path.join(stage, f"file_part={i}", "part-*.parquet")
        )
        assert len(part) == 1, f"doc staging tile {i}: {len(part)} files"
        dst = os.path.join(watch, f"doc{i:03d}.parquet")
        _shutil.move(part[0], dst)
        os.utime(dst, (t0 + 60 * i, t0 + 60 * i))
    _shutil.rmtree(stage, ignore_errors=True)
    schema = spark.read.parquet(watch).schema
    _DOC_STAGE_CACHE[(sf_dir, m)] = (watch, schema, n)
    return watch, schema, n


def _quality_gate_stream(
    spark: SparkSession,
    watch,
    schema,
    files_per_trigger: int | None = 1,
) -> DataFrame:
    """The streaming corpus-clean admission chain shared by s34/s35:
    stateless codegen scoring + reason assignment (the SAME gates and
    precedence as q_pipeline_corpus_clean / q_pipeline_curation_funnel
    — quality floor first, then token budget), then the keyed
    running-totals accumulator. Only (reason, lang, two ints) rows
    reach the state shuffle — text never leaves the scoring stage."""
    from broadway_spark.streaming.quality_gate import (
        streaming_admission_stats,
    )

    reader = spark.readStream.schema(schema)
    if files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", files_per_trigger)
    stream = reader.parquet(watch)
    scored = stream.select(
        "lang",
        T.token_count("text").alias("n_tokens"),
        T.quality_ppm("text").alias("quality_ppm"),
    )
    reason = (
        F.when(
            F.col("quality_ppm") < X.ppm(CORPUS_MIN_QUALITY),
            F.lit("rejected_quality"),
        )
        .when(
            ~F.col("n_tokens").between(CORPUS_MIN_TOKENS, CORPUS_MAX_TOKENS),
            F.lit("rejected_length"),
        )
        .otherwise(F.lit("accepted"))
    )
    flagged = scored.select(
        reason.alias("reason"), "lang", "n_tokens", "quality_ppm"
    )
    return streaming_admission_stats(
        flagged, ["reason", "lang"], ["n_tokens", "quality_ppm"]
    )


def _admission_final_totals(rows: DataFrame) -> DataFrame:
    """Stream-lifetime totals from the accumulator's emission log: the
    max-seq row per key IS the total (running sums are monotone in
    seq), published with the mean as an exact truncating quotient.
    Batch packing only changes HOW MANY intermediate rows exist, never
    the max-seq totals — the kill-point/batch-split invariance the
    restart twin hashes."""
    best = rows.groupBy("reason", "lang").agg(
        F.max(
            F.struct("seq", "n_docs", "sum_n_tokens", "sum_quality_ppm")
        ).alias("b")
    )
    return best.select(
        "reason",
        "lang",
        F.col("b.n_docs").alias("n_docs"),
        F.col("b.sum_n_tokens").alias("n_tokens"),
        X.div_trunc(
            F.col("b.sum_quality_ppm"), F.col("b.n_docs")
        ).alias("mean_quality_ppm"),
    )


def q_s34_stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING QUALITY GATE ON THE ORACLE GATE (r10 item 7's third
    composite, r12 verdict item 3): corpus-clean as a stateful stream.
    Documents arrive in 4 staged micro-batches; each is scored with
    the EXACT integer quality/token gates, assigned an admission
    reason, and folded into per-(reason, lang) running totals held in
    transformWithStateInPandas ValueState (streaming/quality_gate.py).
    The drained emission log's max-seq row per key is the
    stream-lifetime total — hash-checked against the batch GROUP BY
    oracle, so the accumulator's cross-batch arithmetic (not just its
    plumbing) is on the gate.

    Scale shape: scoring is stateless codegen before the shuffle;
    state is one 4-int tuple per (reason, lang) — dozens of keys
    regardless of corpus size."""
    import uuid as _uuid

    from broadway_spark.streaming.stateful_dedup import scoped_rocksdb_state

    watch, schema, _n = _stage_document_files(spark, sf_dir)
    qname = f"s34_quality_gate_{_uuid.uuid4().hex[:8]}"
    with scoped_rocksdb_state(spark), _pinned_state_partitions(spark):
        q = (
            _quality_gate_stream(spark, watch, schema)
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
    if not q.awaitTermination(240):
        q.stop()
        raise RuntimeError(f"{qname} did not drain in 240s")
    return _admission_final_totals(spark.table(qname))


def q_s35_restart_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECKPOINT-RESTART EQUIVALENCE for the admission accumulator:
    the s34 stream killed after the first committed batch — running
    totals resident in the RocksDB store — resumed, drained
    availableNow. The restart hazard is DOUBLE-COUNTING: a replayed
    micro-batch whose state commit survived would fold its rows into
    the totals twice if state were not versioned per batch; the
    max-seq totals would then exceed the corpus and break the hash.
    The idempotent batch_id-keyed sink absorbs the replayed batch's
    re-emission; the final totals are kill-point-invariant, so the
    s34 oracle applies verbatim. Extends the restart matrix to the
    running-counter state family (s14-s33 cover topology, timers,
    windows, joins, dedup — this is the accumulator)."""
    import os
    import tempfile

    from broadway_spark.streaming.stateful_dedup import scoped_rocksdb_state

    watch, schema, _n = _stage_document_files(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="bw_s35_")
    sink, ckpt = os.path.join(base, "sink"), os.path.join(base, "ckpt")
    writer = _idempotent_parquet_writer(sink)
    with scoped_rocksdb_state(spark), _pinned_state_partitions(spark):
        q = (
            _quality_gate_stream(spark, watch, schema)
            .writeStream.foreachBatch(writer)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime=_RESTART_KILL_TRIGGER)
            .start()
        )
        _kill_mid_drain(q)
        # resume lifts the 1-file cadence (s14/s33 toolkit): the hashed
        # max-seq totals are batch-packing-independent by construction
        q2 = (
            _quality_gate_stream(spark, watch, schema, files_per_trigger=None)
            .writeStream.foreachBatch(writer)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            if not q2.awaitTermination(600):
                raise RuntimeError("s35 resume did not complete in 600s")
        finally:
            if q2.isActive:
                q2.stop()
    return _admission_final_totals(
        spark.read.parquet(sink).select(
            "reason", "lang", "n_docs", "sum_n_tokens",
            "sum_quality_ppm", "seq",
        )
    )


S30_N = 5000  # events through the spool batch-read path


def q_s30_spool_batch_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE CUSTOM PYTHON DATA SOURCE'S BATCH PATH ON THE ORACLE GATE:
    the spool directory read with plain `spark.read` (DataSource
    .reader(), no checkpoint, no admission) — the reprocessing /
    backfill / audit read every queue-backed pipeline eventually
    needs, sharing the streaming reader's partition split and row
    decode byte for byte. The gate drains the first S30_N events into
    a spool and hash-checks a grouped aggregate of the batch read
    against the same aggregate straight off the table.

    Scale shape: the row range fans out into contiguous per-task
    chunks exactly like the streaming path (S4); decode is
    partition-parallel JSONL; the aggregate is one partial-agg
    shuffle."""
    import tempfile

    from broadway_spark.sources import SpoolSource

    ev = (
        _t(spark, sf_dir, "events")
        .select("event_id", "event_type", "value")
        .orderBy("event_id")
        .limit(S30_N)
    )
    records = [
        {
            "event_id": r["event_id"],
            "event_type": r["event_type"],
            "value": r["value"],
        }
        for r in ev.collect()  # test-harness materialization, not a hot path
    ]
    base = tempfile.mkdtemp(prefix="bw_s30_")
    src = SpoolSource(
        name="s30spool",
        path=f"{base}/spool",
        schema_ddl="event_id long, event_type string, value double",
        ack_data_column="event_id",
    )
    # two files so the read provably spans file boundaries
    src.push_messages(records[: len(records) // 2], "000_a.jsonl")
    src.push_messages(records[len(records) // 2 :], "001_b.jsonl")
    df = src.read_batch(spark)
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
        _dsum("value").alias("sum_value"),
    )


def q_s22_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER STREAM-STREAM JOIN ON THE ORACLE GATE: every
    purchase, attributed to same-user clicks in the preceding hour OR
    emitted with NULLs once the watermark proves no click can ever
    match — the semantics engines most often get wrong (a NULL result
    may only emit after the click-side state is provably complete for
    that purchase's range). Inner matches emit as they arrive; NULL
    rows emit when the join watermark passes the purchase's maximum
    admissible click time (= p_ts), which the availableNow drain's
    finalizing batch evaluates under the final watermark
    (the same mechanism s13's session cutoff relies on). With two
    watermarked inputs the final watermark is the MIN of the two
    sides' (max event time − 1 h), so the gate hashes only purchases
    at least 3 h below min(max purchase ts, max click ts) — the
    max-over-all-events cutoff this query originally used held only
    while the click side's max happened to sit close enough to the
    global max (s24's click-side NULLs surfaced the policy), making
    the emitted set deterministic regardless of batch packing; the
    DuckDB twin is the batch LEFT JOIN under the same cutoff.

    Scale shape: identical to s12 — both sides shuffle on user, the
    range condition bounds per-key state to one hour; the outer
    variant adds only the eviction-time NULL emission, no extra
    state."""
    import uuid as _uuid

    ev = _events_stream(spark, sf_dir)
    purchases, clicks = _purchase_click_sides(ev)
    joined = purchases.join(
        clicks,
        _click_window_cond(),
        "leftOuter",
    ).select(
        "purchase_id",
        "user_id",
        F.unix_micros("p_ts").alias("p_ts_us"),
        "click_id",
        (
            F.unix_micros(F.col("p_ts")) - F.unix_micros(F.col("c_ts"))
        ).alias("gap_micros"),
    )
    qname = f"s22_stream_outer_join_{_uuid.uuid4().hex[:8]}"
    # The NULL rows only emit in the final NO-DATA micro-batch (the
    # advanced watermark evicting left-join state after the last data
    # batch); if a session had disabled no-data batches the inner rows
    # would still appear and the gate would fail with a confusing
    # diff — pin the conf for this drain (r7 advisor item 3).
    prev_ndmb = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true"
    )
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    try:
        with _pinned_state_partitions(spark):
            q = (
                joined.writeStream.format("memory")
                .queryName(qname)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
    finally:
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", prev_ndmb
        )
    if not q.awaitTermination(240):
        q.stop()
        raise RuntimeError(f"{qname} did not drain in 240s")
    cutoff = (
        _t(spark, sf_dir, "events")
        .agg(
            (
                F.least(
                    F.max(
                        F.when(
                            F.col("event_type") == "purchase",
                            F.unix_micros("ts"),
                        )
                    ),
                    F.max(
                        F.when(
                            F.col("event_type") == "click",
                            F.unix_micros("ts"),
                        )
                    ),
                )
                - F.lit(3 * 3600 * 1000000)
            ).alias("c")
        )
        .collect()[0]["c"]  # 1-row driver literal, not a hot path
    )
    return spark.table(qname).filter(F.col("p_ts_us") <= F.lit(cutoff))


def q_s13_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING SESSION WINDOWS ON THE ORACLE GATE: the native
    ``session_window`` aggregation (dynamic-gap session state, the
    streaming twin of w3_sessions) drained availableNow; append mode
    emits the sessions the final watermark (max ts − 1 h) closed —
    a session is closed once no event can extend it, i.e. its end
    (last event + gap) is at or below the watermark. The DuckDB twin
    sessionizes with the lag/cumulative-flag formulation and applies
    the same cutoff.

    Scale shape: session state is per (user, open-session), merged by
    the state store and expired by the watermark — the canonical
    streaming sessionization at any scale."""
    import uuid as _uuid

    ev = _events_stream(spark, sf_dir)
    sess = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("w"),
            "user_id",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum("value").alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_micros("w.start").alias("session_start_us"),
            "n_events",
            "sum_value",
        )
    )
    qname = f"s13_stream_sessions_{_uuid.uuid4().hex[:8]}"
    with _pinned_state_partitions(spark):
        q = (
            sess.writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
    if not q.awaitTermination(240):
        q.stop()
        raise RuntimeError(f"{qname} did not drain in 240s")
    return spark.table(qname)


def q_s19_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC JOIN ON THE ORACLE GATE: the streaming purchase
    feed enriched against two BATCH dimension tables (nation → region,
    broadcast) — the `prepare_messages` bulk-enrichment pattern
    (reference `lib/broadway.ex` prepare_messages; batch twin
    `p1_enrich`) in its streaming form. The static side is planned per
    micro-batch as an ordinary broadcast hash join, so the drain is
    STATELESS (no state store, no watermark) and a full availableNow
    drain is exactly the batch join — the DuckDB twin is the plain
    three-way join.

    Scale shape: the canonical streaming-enrichment plan — the fact
    stream never shuffles (dimensions broadcast), the only state is
    the source offset log. At 100 TB this is the shape that keeps an
    enrichment stage off the state store entirely."""
    import uuid as _uuid

    ev = _events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    nation = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("__nk"),
        F.col("n_name").alias("nation"),
        "n_regionkey",
    )
    region = _t(spark, sf_dir, "region").select(
        "r_regionkey", F.col("r_name").alias("region")
    )
    dim = nation.join(
        region, F.col("n_regionkey") == F.col("r_regionkey")
    ).select("__nk", "nation", "region")
    enriched = ev.join(
        F.broadcast(dim), F.col("user_id") % 25 == F.col("__nk")
    ).select("event_id", "user_id", "nation", "region", "value")
    qname = f"s19_stream_static_enrich_{_uuid.uuid4().hex[:8]}"
    q = (
        enriched.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(240):
        q.stop()
        raise RuntimeError(f"{qname} did not drain in 240s")
    return spark.table(qname)


F2_N = 2000  # events through the rate-limited drain
F2_ALLOWED = 512  # admission cap per trigger


def _wait_stream_rows(q, n: int, deadline_s: int = 240, what: str = "drain"):
    """Block until the streaming query's committed micro-batches have
    consumed ≥ n input rows, by summing numInputRows over recent
    progress events — pure driver-side polling (no Spark job per
    poll, unlike re-counting a sink parquet). A progress event exists
    only for a COMMITTED batch, so reaching n means the batch that
    delivered the n-th row is durable, sinks and ack log included."""
    import time as _time

    deadline = _time.time() + deadline_s
    total = 0
    while _time.time() < deadline:
        total = sum(_progress_rows(p) for p in q.recentProgress)
        if total >= n:
            return
        _time.sleep(0.05)
    raise RuntimeError(f"{what} incomplete: {total}/{n}")


def q_f2_rate_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE RATE LIMITER + CUSTOM PYTHON DATA SOURCE ON THE ORACLE
    GATE: the spool source (PySpark DataSourceStreamReader with
    driver-side admission in latestOffset, reference token bucket
    rate_limiter.ex:44-106) drains the first F2_N events at
    F2_ALLOWED rows per trigger, through the full router to an ack
    log. The gate checks the ADMISSION CONTRACT itself: per
    micro-batch exactly min(allowed, remaining) rows, in spool order —
    (batch_id, n, min/max event_id, decimal-exact value sum)
    hash-checked against a row-bucketing DuckDB twin.

    Driven with a ProcessingTime trigger (admission is per
    latestOffset call; an availableNow drain memoizes one target
    offset and plans a single batch, bypassing the per-trigger cap —
    measured, which is itself the documented contract difference).
    Determinism: spool files replay in write order; admission is a
    pure function of (backlog, allowed); batch numbering is
    0..ceil(N/allowed)-1 because empty triggers plan no batch.

    Scale shape: admission is driver-side (the only correct place —
    per-task admission can't bound a global rate); payload rows flow
    executor-side; the ack log is the per-batch evidence."""
    import tempfile

    from broadway_spark.config import SinkConfig, TopologyConfig
    from broadway_spark.plans import Pipeline
    from broadway_spark.sources import SpoolSource

    ev = (
        _t(spark, sf_dir, "events")
        .select("event_id", "event_type", "value")
        .orderBy("event_id")
        .limit(F2_N)
    )
    records = [
        {
            "event_id": r["event_id"],
            "event_type": r["event_type"],
            "value": r["value"],
        }
        for r in ev.collect()  # test-harness materialization, not a hot path
    ]
    base = tempfile.mkdtemp(prefix="bw_f2_")
    src = SpoolSource(
        name="f2spool",
        path=f"{base}/spool",
        schema_ddl="event_id long, event_type string, value double",
        ack_data_column="event_id",
        allowed_per_trigger=F2_ALLOWED,
        # driver-side simple reader: same admission code, ~0.15 s less
        # fixed cost per micro-batch (right for a low-volume
        # rate-limited drain; f3 keeps the partitioned path on the
        # gate so both reader paths stay oracle-covered)
        simple=True,
    )
    src.push_messages(records, "000_backlog.jsonl")
    cfg = TopologyConfig(
        name="f2-rate-drain",
        order_by="event_id",
        ack_log=SinkConfig(path=f"{base}/ack"),
        checkpoint_dir=f"{base}/ckpt",
        state_partitions=8,
    )
    n_expected = len(records)
    q = Pipeline(cfg, src).start(
        spark, trigger="processingTime", processing_time="100 milliseconds"
    )
    try:
        # Progress-based wait (r10): numInputRows summed over committed
        # micro-batches == rows admitted AND durably processed (a
        # progress event is emitted only after its batch commits, sinks
        # included). Free driver-side polling — the old parquet
        # re-count launched a Spark job every 0.5 s and was most of
        # this query's wall time.
        _wait_stream_rows(q, n_expected, what="f2 drain")
    finally:
        q.stop()
        q.awaitTermination(60)
    ack = spark.read.parquet(f"{base}/ack")
    # join values back by event_id for the per-batch decimal sum —
    # against a BROADCAST local frame of the records already collected
    # for the push (identical values; re-scanning + re-sorting the
    # events table here was a whole extra job per invocation)
    vals = F.broadcast(
        spark.createDataFrame(
            [(r["event_id"], r["value"]) for r in records],
            "event_id long, value double",
        )
    )
    ids = ack.select(
        "batch_id", F.col("ack_data").cast("long").alias("event_id")
    )
    return (
        ids.join(vals, "event_id")
        .groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
            _dsum("value").alias("sum_value"),
        )
    )


F4U_N1 = 900  # phase-1 rows drained at the constructor rate
F4U_A1 = 300  # constructor admission cap (3 exact batches)
F4U_N2 = 600  # phase-2 rows drained at the updated rate
F4U_A2 = 120  # runtime-updated admission cap (5 exact batches)


def q_f4_rate_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 RUNTIME RATE-LIMIT UPDATE ON THE ORACLE GATE (reference
    Broadway.update_rate_limiting/2 + get_rate_limiting/1,
    broadway.ex:1447-1523): the spool drains F4U_N1 events at the
    constructor cap F4U_A1 (exactly N1/A1 full batches), then the
    rate is changed AT RUNTIME to F4U_A2 and F4U_N2 more events are
    pushed (exactly N2/A2 full batches). The gate hash-checks the
    whole per-batch admission profile — (batch_seq, n, min/max
    event_id, decimal-exact value sum) — so the rate change's effect
    on every subsequent trigger is the oracle contract, not a pytest
    assertion (promotes the last pytest-only operator half, r8
    verdict item 3).

    Determinism: phase 1 fully drains (acked == N1 observed) before
    the update, so its batches are exactly A1 rows in spool order;
    the control file lands via atomic rename BEFORE the phase-2 data
    file, and latestOffset lists data files before re-reading the
    rate, so any trigger that sees phase-2 rows admits at the new
    rate. Batches are numbered by DENSE RANK over the ack log's
    epoch ids, not the raw ids — idle-gap no-data batches between
    the phases can consume epochs but never write ack rows, so the
    sequence is gap-free by construction.

    Scale shape: identical to f2_rate_drain — driver-side global
    admission (the only correct place for a global rate), payload
    rows executor-side, the ack log as per-batch evidence."""
    import tempfile
    import time as _time

    from broadway_spark.config import SinkConfig, TopologyConfig
    from broadway_spark.plans import Pipeline
    from broadway_spark.sources import SpoolSource

    ev = (
        _t(spark, sf_dir, "events")
        .select("event_id", "event_type", "value")
        .orderBy("event_id")
        .limit(F4U_N1 + F4U_N2)
    )
    records = [
        {
            "event_id": r["event_id"],
            "event_type": r["event_type"],
            "value": r["value"],
        }
        for r in ev.collect()  # test-harness materialization, not a hot path
    ]
    base = tempfile.mkdtemp(prefix="bw_f4u_")
    src = SpoolSource(
        name="f4spool",
        path=f"{base}/spool",
        schema_ddl="event_id long, event_type string, value double",
        ack_data_column="event_id",
        allowed_per_trigger=F4U_A1,
        # driver-side simple reader (see f2) — the piecewise admission
        # profile is a pure latestOffset property, identical here
        simple=True,
    )
    # the table may hold fewer than N1+N2 rows at tiny sf — the
    # admission contract (min(allowed, remaining) per trigger) and the
    # oracle's piecewise formula both degrade gracefully, the waits
    # must too.
    n1 = min(F4U_N1, len(records))
    src.push_messages(records[:n1], "000_phase1.jsonl")
    cfg = TopologyConfig(
        name="f4-rate-update",
        order_by="event_id",
        ack_log=SinkConfig(path=f"{base}/ack"),
        checkpoint_dir=f"{base}/ckpt",
        state_partitions=8,
    )
    q = Pipeline(cfg, src).start(
        spark, trigger="processingTime", processing_time="100 milliseconds"
    )
    try:
        # Progress-based waits (r10, replaces the parquet re-count
        # polling that launched a Spark job per 0.5 s poll): a
        # progress event is emitted only AFTER its micro-batch commits
        # — so "input rows ≥ n1 observed" implies the phase-1 batches
        # (acks included) are durable before the rate update lands.
        _wait_stream_rows(q, n1, what="f4 phase-1 drain")
        # the runtime update: rate control first (atomic rename), data
        # second — ordering is the no-race argument above.
        src.update_rate_limiting(F4U_A2)
        if len(records) > n1:
            src.push_messages(records[n1:], "001_phase2.jsonl")
        _wait_stream_rows(q, len(records), what="f4 phase-2 drain")
    finally:
        q.stop()
        q.awaitTermination(60)
    ack = spark.read.parquet(f"{base}/ack")
    ids = ack.select(
        "batch_id", F.col("ack_data").cast("long").alias("event_id")
    )
    # broadcast the already-collected records instead of re-scanning
    # the events table (identical values, one fewer full-scan job)
    vals = F.broadcast(
        spark.createDataFrame(
            [(r["event_id"], r["value"]) for r in records],
            "event_id long, value double",
        )
    )
    per_batch = ids.join(vals, "event_id").groupBy("batch_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
        _dsum("value").alias("sum_value"),
    )
    seq = Window.orderBy("batch_id")  # ≤8 rows: degenerate sort
    return per_batch.select(
        (F.dense_rank().over(seq) - 1).cast("long").alias("batch_seq"),
        "n",
        "min_id",
        "max_id",
        "sum_value",
    )


def q_s11_stream_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED WINDOWED STATEFUL AGGS ON THE ORACLE GATE: the
    streaming MinHash-LSH near-dedup (operators/dedup.py::
    streaming_near_dedup — per-row signatures, per (window, band)
    min-id arbitration, survivors won ALL their bands; two chained
    watermark-bounded windowed aggregations, Spark's supported
    multi-stateful-operator shape) drained availableNow over events
    (props as the text, hour windows) and hash-checked against a
    declarative DuckDB twin of both aggregation layers.

    Determinism: the emitted set is exactly the windows the final
    watermark (max ts − 1 h) closed — the twin applies the same
    cutoff as a scalar predicate; arbitration is min-id, batch-split
    independent (the r4 redesign).

    Scale shape: state is O(distinct (window, band)) + O(window
    survivors), expired by the watermark — never the corpus."""
    import os
    import uuid as _uuid

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    stream = (
        reader.parquet(path)
        if os.path.isdir(path)
        else reader.option("pathGlobFilter", "events.parquet").parquet(sf_dir)
    )
    ts_type = {f.name: f.dataType.simpleString() for f in schema.fields}.get(
        "ts"
    )
    if ts_type == "bigint":
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000"))
        )
    else:
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    kept = D.streaming_near_dedup(
        stream,
        "event_id",
        "props",
        "ts",
        watermark_delay="1 hour",
        window_duration="1 hour",
        num_hashes=MINHASH_NUM,
        bands=MINHASH_BANDS,
        shingle_k=MINHASH_K,
    )
    qname = f"s11_stream_near_dedup_{_uuid.uuid4().hex[:8]}"
    with _pinned_state_partitions(spark):
        q = (
            kept.writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
    if not q.awaitTermination(240):
        q.stop()
        raise RuntimeError(f"{qname} did not drain in 240s")
    return spark.table(qname).select(
        "event_id",
        F.date_format("win_start", "yyyy-MM-dd HH:00").alias("bucket"),
    )


def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT character-level doc-in-doc containment pairs — the
    missing member of the dedup family (winnow fingerprints and
    df-capped set containment approximate it; this is exact): min-hash
    probe gram → inverted-index equi-join → contains() verification,
    no false negatives by construction (any substring's every 32-gram
    occurs in its container). Property-tested against brute force;
    the DuckDB twin computes probe-independent ground truth directly.
    See operators/dedup.py::substring_containment_pairs for the 100 TB
    plan shape (linear index build, skew-resistant probe choice)."""
    docs = _t(spark, sf_dir, "documents")
    return D.substring_containment_pairs(docs, "doc_id", "text", k=32)


def q_s9_stateful_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE STATEFUL BATCHER ON THE ORACLE GATE: cross-micro-batch
    batch assembly with per-key timeout timers
    (``applyInPandasWithState`` + ProcessingTimeTimeout,
    streaming/stateful_batcher.py) — the faithful B2/B3 semantics
    (batcher_stage.ex:80-89,108-221) — driven to a full drain and
    hash-checked: per (batcher, outcome, trigger, batch_size) ack
    counts, sink row counts + value sums, DLQ counts.

    Determinism: the single-file input arrives as ONE micro-batch, so
    the end state is timing-independent — per (batcher, batch_key):
    floor(n_ok/size) full chunks flush 'size'; the remainder flushes
    'flush' if the group saw a flush-mode row in that batch, else by
    the per-key TIMER as 'timeout' (the wall clock decides WHEN, never
    WHAT); failed rows pass through unbuffered. The DuckDB twin
    computes the same distribution from group counts alone.

    Scale shape: state is sharded by (batcher, batch_key) across the
    state store — one key-group per task, Broadway's
    one-batcher-process-per-key guarantee; nothing accumulates on the
    driver."""
    import os
    import tempfile
    import time as _time
    import uuid as _uuid

    from broadway_spark.config import (
        BatcherConfig,
        SinkConfig,
        TopologyConfig,
    )
    from broadway_spark.plans import Pipeline
    from broadway_spark.sources import FileStreamSource

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    expected = spark.read.parquet(path).count()
    if os.path.isdir(path):
        src = FileStreamSource("events", path, schema)
    else:
        src = FileStreamSource(
            "events",
            sf_dir,
            schema,
            options={"pathGlobFilter": "events.parquet"},
        )
    base = tempfile.mkdtemp(prefix="bw_s9_")

    def d(sub: str) -> str:
        return os.path.join(base, sub)

    cfg = TopologyConfig(
        name=f"s9_drain_{_uuid.uuid4().hex[:8]}",
        transformer=lambda df: df.drop("ts"),
        handle_message=lambda df: FL.with_status(
            df, F.col("event_type") == "error", "poison:error-event"
        ).withColumn(
            "batch_mode",
            F.when(F.col("event_type") == "signup", F.lit("flush")).otherwise(
                F.col("batch_mode")
            ),
        ),
        route_by=F.when(F.col("event_type") == "purchase", F.lit("billing")),
        batch_key_by=F.col("user_id") % 10,
        order_by="event_id",
        batchers={
            "billing": BatcherConfig(batch_size=16, batch_timeout_ms=500),
            "default": BatcherConfig(batch_size=25, batch_timeout_ms=500),
        },
        sinks={
            "billing": SinkConfig(path=d("sink_billing")),
            "default": SinkConfig(path=d("sink_default")),
        },
        dlq=SinkConfig(path=d("dlq")),
        ack_log=SinkConfig(path=d("ack")),
        checkpoint_dir=d("ckpt"),
        state_partitions=8,
    )
    q = Pipeline(cfg, src).start_stateful(
        spark, processing_time="250 milliseconds"
    )
    # Drain protocol: every input row acks exactly once (full chunks
    # immediately, remainders via their key timers) — poll the ack log
    # until all N arrive, then stop.
    try:
        _await_acks(spark, q, d("ack"), expected, label="s9 drain")
    finally:
        q.stop()
        q.awaitTermination(60)

    ack = spark.read.parquet(d("ack"))
    ack_agg = (
        ack.groupBy(
            "batcher",
            "outcome",
            F.col("trigger"),
            F.col("batch_size").cast("bigint").alias("bsz"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("ack").alias("section"),
            "batcher",
            "outcome",
            "trigger",
            "bsz",
            "n",
            F.lit(None).cast("double").alias("sum_value"),
        )
    )

    def sink_row(name: str):
        return (
            spark.read.parquet(d(f"sink_{name}"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                _dsum("value").alias("sum_value"),
            )
            .select(
                F.lit("sink").alias("section"),
                F.lit(name).alias("batcher"),
                F.lit("rows").alias("outcome"),
                F.lit("-").alias("trigger"),
                F.lit(-1).cast("bigint").alias("bsz"),
                "n",
                "sum_value",
            )
        )

    dlq_agg = (
        spark.read.parquet(d("dlq"))
        .groupBy("batcher")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dsum("value").alias("sum_value"),
        )
        .select(
            F.lit("dlq").alias("section"),
            "batcher",
            F.lit("failed").alias("outcome"),
            F.lit("-").alias("trigger"),
            F.lit(-1).cast("bigint").alias("bsz"),
            "n",
            "sum_value",
        )
    )
    return (
        ack_agg.unionByName(sink_row("billing"))
        .unionByName(sink_row("default"))
        .unionByName(dlq_agg)
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the Broadway pipeline in batch form — ingest events,
    transform, divert failures, route to batchers, chunk by key+size,
    per-batch aggregate (sf0.001)."""
    sf_dir = "/root/testdata/sf0.001"
    ev = _t(spark, sf_dir, "events")
    ev = ev.withColumn("k", F.get_json_object("props", "$.k").cast("int"))
    ev = FL.with_status(ev, F.col("event_type") == "error", "poison:error-event")
    route = F.when(F.col("event_type") == "purchase", F.lit("billing"))
    ev = P.route_by(ev, route, valid_batchers=["billing", "dlq", "default"])
    ok, _failed = FL.split_failures(ev)
    chunked = B.chunk_by_size(ok, ["batcher", "user_id"], "event_id", 100)
    return chunked.groupBy("batcher", "user_id", "chunk_id").agg(
        F.count(F.lit(1)).alias("n"),
        _dsum("value").alias("sum_value"),
    )


# ------------------------------------------------------------------
# TPC-DS-style multi-channel relational shapes (r6 verdict item 6):
# the TPC-H surface is saturated; these add the warehouse shapes a DS
# user hits next — channel UNION ALL with returns netting (q5/q77
# style), a grouping-sets report over the union (one Expand, one
# shuffle), and the returns-cohort-vs-peer-average pattern (q1 style,
# integer-exact threshold). Channels derive from l_shipmode since the
# TPC-H-ish schema has one fact table.


def _channel() -> F.Column:
    return (
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), F.lit("web")
        )
        .when(F.col("o_orderpriority") == "3-MEDIUM", F.lit("catalog"))
        .otherwise(F.lit("store"))
    )


_CHANNEL_SQL = (
    "CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'web' "
    "WHEN o_orderpriority = '3-MEDIUM' THEN 'catalog' "
    "ELSE 'store' END"
)


def _channel_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DS-q5-style channel union: slim (channel, year, sales,
    returns) fact rows — the sales branch carries the discounted price
    in ``sales`` (returns 0), the returns branch vice versa; the
    channel comes from the order's priority band via ONE join placed
    AFTER the union (two column-pruned fact scans — the channel-union
    cost — but a single orders scan and a single shuffle join)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    zero = F.lit(0).cast("decimal(18,2)")
    sales = li.filter(F.col("l_returnflag") != "R").select(
        "l_orderkey",
        F.year("l_shipdate").cast("int").alias("ship_year"),
        _dp().alias("sales"),
        zero.alias("returns"),
    )
    returns = li.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey",
        F.year("l_shipdate").cast("int").alias("ship_year"),
        zero.alias("sales"),
        _dp().alias("returns"),
    )
    return (
        sales.unionByName(returns)
        .join(
            orders.select("o_orderkey", _channel().alias("channel")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select("channel", "ship_year", "sales", "returns")
    )


_CHANNEL_UNION_SQL = f"""
              SELECT {_CHANNEL_SQL} AS channel, u.ship_year, u.sales,
                     u.returns
              FROM (
                SELECT l_orderkey,
                       CAST(year(l_shipdate) AS INT) AS ship_year,
                       {_DP_SQL} AS sales,
                       CAST(0 AS DECIMAL(18,2)) AS returns
                FROM lineitem WHERE l_returnflag <> 'R'
                UNION ALL
                SELECT l_orderkey, CAST(year(l_shipdate) AS INT),
                       CAST(0 AS DECIMAL(18,2)), {_DP_SQL}
                FROM lineitem WHERE l_returnflag = 'R'
              ) u JOIN orders ON u.l_orderkey = o_orderkey"""


def q_ds1_channel_netting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DS-q77-style per-channel sales/returns netting over the channel
    union: per (channel, ship_year) the sales total, returns total,
    and net — each a decimal-exact sum, subtracted before the single
    end-rounding (the h9_profit convention).

    Scale shape: two column-pruned fact scans (the union branches, with
    the returnflag filter pushed to each scan) feeding ONE partial-agg
    shuffle on (channel, year) — ~20 groups, map-side combined; no
    joins, nothing driver-side."""
    u = _channel_union(spark, sf_dir)
    return u.groupBy("channel", "ship_year").agg(
        # exact decimal sums cast to double, NOT rounded (scale-4
        # product sums can hit exact 2dp half-way cases at volume —
        # the class the sf1 sweep caught on h7/h9; see h1_pricing)
        F.sum("sales").cast("double").alias("sales_amt"),
        F.sum("returns").cast("double").alias("returns_amt"),
        F.sum(F.col("sales") - F.col("returns"))
        .cast("double")
        .alias("net_amt"),
    )


def q_ds2_channel_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DS-q5-style grouping-sets report over the channel union: ROLLUP
    (channel, ship_year) — per-(channel, year) rows, per-channel
    subtotals, and the grand total, NULL groups labeled 'ALL' (the
    r1_rollup convention).

    Scale shape: the union feeds ONE Expand (3 grouping sets) and one
    partial-agg shuffle — never one scan per grouping set; asserted in
    test_plan_shapes."""
    u = _channel_union(spark, sf_dir)
    return (
        u.rollup("channel", "ship_year")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("sales").cast("double").alias("sales_amt"),
            F.sum("returns").cast("double").alias("returns_amt"),
            F.sum(F.col("sales") - F.col("returns"))
            .cast("double")
            .alias("net_amt"),
        )
        .select(
            F.coalesce("channel", F.lit("ALL")).alias("channel"),
            F.coalesce(F.col("ship_year").cast("string"), F.lit("ALL")).alias(
                "ship_year"
            ),
            "n",
            "sales_amt",
            "returns_amt",
            "net_amt",
        )
    )


def q_ds4_top_channel_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DS-q67-style top-N per group: the 3 best years per channel by
    net amount over the channel union. Ordering is total (rounded net
    DESC, then year), so the row_number cut is engine-independent.

    Scale shape: the union's one partial-agg shuffle down to ~20
    (channel, year) rows, then a window over 3 channel partitions —
    the post-aggregate window touches group rows, never fact rows."""
    agg = q_ds1_channel_netting(spark, sf_dir)
    w = Window.partitionBy("channel").orderBy(
        F.col("net_amt").desc(), F.col("ship_year").asc()
    )
    return (
        agg.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 3)
        .select("channel", "ship_year", "net_amt", "rk")
    )


def q_ds5_channel_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DS-q75-style year-over-year movement per channel: each
    (channel, year) net beside the previous present year's net and the
    exact delta — all three carried as DECIMAL until the final
    round-to-double, so the subtraction is engine-order-independent
    (no ratio, no float division; the q75 netting semantics without
    its float hazards).

    Scale shape: one partial-agg shuffle to ~20 group rows, one lag
    window over 3 channel partitions."""
    u = _channel_union(spark, sf_dir)
    agg = u.groupBy("channel", "ship_year").agg(
        F.sum(F.col("sales") - F.col("returns")).alias("__net")
    )
    w = Window.partitionBy("channel").orderBy("ship_year")
    return (
        agg.withColumn("__prev", F.lag("__net").over(w))
        .select(
            "channel",
            "ship_year",
            F.col("__net").cast("double").alias("net_amt"),
            F.col("__prev").cast("double").alias("prev_net_amt"),
            (F.col("__net") - F.col("__prev"))
            .cast("double")
            .alias("delta_amt"),
        )
    )


def q_ds3_returns_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DS-q1-style returns cohort: customers whose total returned value
    exceeds 1.2x their nation's per-customer average return value.
    The threshold is INTEGER-EXACT — per-customer return totals become
    BIGINT 100ths-of-cents units (the decimal product at scale 4 is
    integral after *10000), and ``ret > 1.2 * (tot / n)`` is compared
    as ``10 * ret * n > 12 * tot`` so no float division or ulp
    boundary exists in either engine (the budget-chunking lesson).

    Scale shape: returns-filtered fact scan → join orders on orderkey
    (both shuffle on the key) → per-customer partial agg → one window
    over nation (count + sum) → broadcast nation-name join. The
    customer dimension joins BEFORE the window so the window keys on
    the small nation id."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    units = (_dp() * F.lit(10000).cast("decimal(18,0)")).cast("bigint")
    per_cust = (
        li.select("l_orderkey", units.alias("__u"))
        .join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("__u").alias("ret_units"))
        .join(
            cust.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
    )
    w = Window.partitionBy("c_nationkey")
    flagged = (
        per_cust.withColumn("__n", F.count(F.lit(1)).over(w))
        .withColumn("__tot", F.sum("ret_units").over(w))
        .filter(
            F.col("ret_units") * F.col("__n") * F.lit(10)
            > F.col("__tot") * F.lit(12)
        )
    )
    return (
        flagged.join(
            F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("n_name").alias("nation"),
            "ret_units",
        )
    )


# ------------------------------------------------------------------
# L4/L5 on the hash gate (r6): the last two operators whose external
# verification rested on pytest alone — topology introspection and the
# 13-event telemetry catalogue — become hash-checked registry rows.


def q_ds6_channel_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DS-q51-style cumulative channel race: per ship month, the
    running (cumulative) web net versus store net and a web_ahead
    flag — REFORMULATED Spark-first: q51's web⋈store FULL OUTER JOIN
    of two windowed series collapses into ONE conditional aggregation
    (per-month web/store columns) plus one window pass computing both
    running sums — no join, no second fact scan, no NULL-patching.

    Exactness: nets stay DECIMAL through the monthly aggregate AND the
    running sums; the web_ahead comparison is decimal-exact (no float
    boundary), rounding to double happens only in the output columns.

    Scale shape: one fact scan + the orders channel join (shuffle on
    orderkey), one partial-agg shuffle down to ~84 month rows; the
    unpartitioned cumulative window runs over those ~84 GROUP rows,
    never fact rows (the ds5 lag convention)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    signed = F.when(F.col("l_returnflag") == "R", -_dp()).otherwise(_dp())
    rows = li.select(
        "l_orderkey",
        F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"),
        signed.alias("net"),
    ).join(
        orders.select("o_orderkey", _channel().alias("channel")),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    zero = F.lit(0).cast("decimal(18,2)")
    m = rows.groupBy("ship_month").agg(
        F.sum(
            F.when(F.col("channel") == "web", F.col("net")).otherwise(zero)
        ).alias("web_net"),
        F.sum(
            F.when(F.col("channel") == "store", F.col("net")).otherwise(zero)
        ).alias("store_net"),
    )
    w = Window.orderBy("ship_month").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum_web = F.sum("web_net").over(w)
    cum_store = F.sum("store_net").over(w)
    return m.select(
        "ship_month",
        cum_web.cast("double").alias("cum_web"),
        cum_store.cast("double").alias("cum_store"),
        (cum_web > cum_store).cast("int").alias("web_ahead"),
    )


def q_ds7_channel_exclusive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DS-q35/q69-style cross-channel existence cohort: per nation, the
    customers who order on the WEB channel but never in STORE — with
    their web order count and decimal-exact web spend. REFORMULATED
    Spark-first: the textbook EXISTS(web) AND NOT EXISTS(store)
    correlated pair (two extra fact scans + two semi/anti shuffles)
    collapses into ONE orders scan aggregated per customer with
    conditional channel counts, then a plain filter n_web > 0 AND
    n_store = 0 — the existence test becomes a predicate on the
    aggregate.

    Scale shape: one orders scan, one (custkey) partial-agg shuffle,
    one shuffle join to customer, broadcast nation, final ~25-group
    aggregate. j3_semi_anti keeps the literal semi/anti plan on the
    gate; this is the scan-once alternative for multi-channel
    existence."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    zero = F.lit(0).cast("decimal(18,2)")
    ch = _channel()
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(F.when(ch == "web", 1).otherwise(0)).alias("n_web"),
        F.sum(F.when(ch == "store", 1).otherwise(0)).alias("n_store"),
        F.sum(
            F.when(
                ch == "web", F.col("o_totalprice").cast("decimal(18,2)")
            ).otherwise(zero)
        ).alias("web_spend"),
    )
    excl = per_cust.filter((F.col("n_web") > 0) & (F.col("n_store") == 0))
    return (
        excl.join(
            customer.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("n_web").cast("long").alias("web_orders"),
            F.sum("web_spend").cast("double").alias("web_spend"),
        )
    )


def q_l4_topology(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 INTROSPECTION ON THE ORACLE GATE: Broadway.topology/1 parity
    (broadway.ex:1184-1276) — a representative pipeline's compiled
    topology (producer / processor / batcher layers with the settings
    the start paths run, including the processor shuffle's
    partition_by and width and a tuple budget batch_size) flattened to
    rows and hash-checked against a literal twin. Every setting is
    config-pinned (no machine-dependent defaults), so the surface is
    deterministic; the pipeline is never started (introspection is a
    pure function of the config, as in the reference)."""
    from broadway_spark.config import BatcherConfig, SinkConfig, TopologyConfig
    from broadway_spark.plans import Pipeline
    from broadway_spark.sources import FileStreamSource

    src = FileStreamSource(
        "events", f"{sf_dir}/events.parquet", "event_id long"
    )
    cfg = TopologyConfig(
        name="l4-fixed",
        partition_by="user_id",
        state_partitions=8,
        order_by="event_id",
        batchers={
            "billing": BatcherConfig(batch_size=16, batch_timeout_ms=250),
            "default": BatcherConfig(
                batch_size=("w_cents", 20000.0), batch_timeout_ms=500
            ),
        },
        sinks={
            "billing": SinkConfig(path="sink_billing"),
            "default": SinkConfig(path="sink_default"),
        },
        checkpoint_dir="unused-ckpt",
    )
    topo = Pipeline(cfg, src).topology()
    rows = []
    p = topo["producers"][0]
    rows.append(("producer", p["name"], "kind", p["kind"]))
    pr = topo["processors"][0]
    rows.append(("processor", "-", "partition_by", str(pr["partition_by"])))
    rows.append(
        ("processor", "-", "state_partitions", str(pr["state_partitions"]))
    )
    for b in topo["batchers"]:
        rows.append(("batcher", b["name"], "batch_size", str(b["batch_size"])))
        rows.append(
            ("batcher", b["name"], "batch_timeout_ms", str(b["batch_timeout_ms"]))
        )
        rows.append(("batcher", b["name"], "sink", str(b["sink"])))
    return spark.createDataFrame(
        rows, "layer string, name string, setting string, value string"
    )


def q_l5_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 TELEMETRY ON THE ORACLE GATE: one availableNow drain of the
    events file through a two-batcher topology with handle_failed,
    recorded by observe.Recorder — then the span catalogue's per-event
    counts plus the load-bearing metadata (processor message/failed
    counts, batcher routed totals) hash-checked against a DuckDB twin
    that recomputes the metadata from events.parquet. One input file =
    one micro-batch, so every count is deterministic (the 12
    always-emitted events of the 13-event catalogue;
    handle_failed:exception fires only when the hook raises —
    pytest-covered, broadway.ex:802-846)."""
    import os
    import tempfile
    import uuid as _uuid

    from broadway_spark.config import (
        BatcherConfig,
        SinkConfig,
        TopologyConfig,
    )
    from broadway_spark.plans import Pipeline
    from broadway_spark.sources import FileStreamSource
    from broadway_spark.observe import Recorder

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    if os.path.isdir(path):
        src = FileStreamSource("events", path, schema)
    else:
        src = FileStreamSource(
            "events",
            sf_dir,
            schema,
            options={"pathGlobFilter": "events.parquet"},
        )
    base = tempfile.mkdtemp(prefix="bw_l5_")
    rec = Recorder()
    cfg = TopologyConfig(
        name=f"l5_spans_{_uuid.uuid4().hex[:8]}",
        transformer=lambda df: df.drop("ts"),
        handle_message=lambda df: FL.with_status(
            df, F.col("event_type") == "error", "poison:error-event"
        ),
        route_by=F.when(F.col("event_type") == "purchase", F.lit("billing")),
        batch_key_by=F.col("user_id") % 10,
        order_by="event_id",
        batchers={
            "billing": BatcherConfig(batch_size=16),
            "default": BatcherConfig(batch_size=25),
        },
        sinks={
            "billing": SinkConfig(path="x", format="noop"),
            "default": SinkConfig(path="x", format="noop"),
        },
        dlq=SinkConfig(path=os.path.join(base, "dlq")),
        handle_failed=lambda pdf: pdf,
        checkpoint_dir=os.path.join(base, "ckpt"),
        telemetry=rec,
        # Same width as pipeline_topology_drain — ~20 distinct
        # (batcher, batch_key) values; spans are emitted per micro-batch
        # on the driver, never per partition, so the span counts (the
        # query result) are partition-count invariant.
        state_partitions=8,
    )
    Pipeline(cfg, src).run_to_completion(spark, timeout_s=240)

    rows = [
        ("span", ev, len(rec.events(ev)))
        for ev in Recorder.CATALOGUE
        if ev != "handle_failed:exception"
    ]
    rows.append(
        (
            "meta",
            "processor_messages",
            rec.events("processor:stop")[0].metadata["messages"],
        )
    )
    rows.append(
        (
            "meta",
            "processor_failed",
            rec.events("processor:stop")[0].metadata["failed"],
        )
    )
    rows.append(
        (
            "meta",
            "batcher_start_messages",
            sum(
                s.metadata.get("messages", 0)
                for s in rec.events("batcher:start")
            ),
        )
    )
    return spark.createDataFrame(rows, "kind string, name string, n long")


# ------------------------------------------------------------------
# Checkpoint-restart equivalence drains (s14–s17, r6): kill a stateful
# streaming pipeline MID-DRAIN, resume from the checkpoint, finish, and
# hash-check that the result equals an uninterrupted run — the one
# 100 TB claim (executor/driver loss mid-pipeline) that previously
# rested on pytest alone. Reference crash/restart isolation semantics:
# test/broadway_test.exs:2070-2348.
#
# Determinism under an arbitrary kill point:
# - input staged as RESTART_M single-file micro-batches holding
#   contiguous (ts, event_id)-ordered ranges (ntile split — mirrored in
#   SQL by the s14 twin), maxFilesPerTrigger=1, mtime-ordered so event
#   time only moves forward (no late data → watermark results equal
#   the batch run);
# - every sink idempotent (each micro-batch overwrites its own
#   batch_id partition) so the replayed in-flight batch lands once;
# - hashed results restricted to kill-point-invariant facts: s14 hashes
#   the full per-(file, key) chunk structure — deterministic because
#   the staged file_idx is baked into each ROW and folded into
#   batch_key, so chunk groups are a data property (Spark's file
#   source may pack several pending files into the first post-restart
#   batch; keying on arrival would be packing-dependent); s15
#   (cross-batch stateful
#   buffers + wall-clock timers) hashes delivery totals + the
#   exactly-once invariant (total acks == distinct acks == N), since
#   WHICH trigger flushed a chunk is timing-dependent by design while
#   WHAT was delivered is not; s16/s17 converge to their non-restart
#   twins' results (final-watermark cutoff / inner-join completeness
#   are batch-split-independent) and reuse those oracles verbatim.

RESTART_M = 4  # staged micro-batch files per restart drain

# Phase-1 (kill-phase) trigger interval for the restart drains (r15,
# r14 verdict item 5). The kill fires as soon as the FIRST batch with
# rows commits; with the old 0.2-1 s cadences batch 2 was usually
# already in flight by then, so q.stop() blocked until that batch
# aborted/completed — measured 1-6 s of pure wait per drain
# (scripts/drain_decompose.py). A long interval means the engine sits
# in the post-batch-1 idle gap when the kill lands: stop() returns at
# once, and the files batch 2 would have carried shift to the resume's
# packed availableNow batch (strictly cheaper than per-file batches).
# The kill point is unchanged in kind — ≥1 committed stateful batch,
# staged files outstanding — and every drain hashes only
# kill-point-invariant facts, so results cannot move. Resume cadences
# (s15 timer flushes, f3 spool admission) are NOT touched.
_RESTART_KILL_TRIGGER = "10 seconds"

# Staging is deterministic in (sf_dir, m) and the staged dir is
# read-only to the drains (checkpoints/sinks are per-call tempdirs),
# so one staging serves every restart query and every bench pass in
# the process — ~2-3 s saved per drain invocation.
_STAGE_CACHE: dict = {}


def _stage_event_files(spark: SparkSession, sf_dir: str, m: int = RESTART_M):
    """Stage events.parquet as ``m`` single parquet files holding
    contiguous (ts, event_id)-ordered row ranges (``ntile`` split — the
    SQL-expressible assignment the s14 twin mirrors), named and
    mtime-ordered so Spark's file source processes them oldest-first,
    one per micro-batch. Returns (watch_dir, schema, n_rows).

    The split MUST stay time-contiguous: the watermark-bearing drains
    (s16/s18/s25/s26/s27 families) rely on event time only moving
    forward across staged files — a hash(event_id)%m split would make
    every file span the full ts range, so file 2+ arrives entirely
    below the watermark file 1 advanced to, changing state eviction
    and therefore results. The r10 cost fix keeps ntile but writes
    ALL m files in ONE job (partitionBy over a duplicated tile
    column) instead of m sequential filtered full scans — the staging
    that the r9 verdict flagged as the drain family's fixed cost.

    r14/r15 resume-cadence invariant (r14 advice item 4): the restart
    drains lift maxFilesPerTrigger on RESUME (all outstanding files in
    one availableNow batch). For first-seen dedup (s16/s18) a key's
    keeper is "earliest batch wins, min order_by within batch" — the
    packed-batch form matches the per-file form only because this
    ntile split keeps each key's rows in order_by-contiguous ranges
    (a row's (ts, event_id) in file i sorts before every row of file
    i+1, so min-within-the-packed-batch == min-within-the-earliest-
    file). Changing the split to anything non-contiguous (hash,
    round-robin) silently breaks that equivalence as well as the
    watermark monotonicity above — keep ntile over (ts, event_id)."""
    import glob as _glob
    import os
    import shutil as _shutil
    import tempfile
    import time as _time

    cached = _STAGE_CACHE.get((sf_dir, m))
    if cached is not None and os.path.isdir(cached[0]):
        return cached

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n = ev.count()
    # file_idx is BAKED INTO the rows, not implied by arrival: Spark's
    # file source may pack several pending files into the first batch
    # after a restart (observed ~1/10 runs), so any chunk structure
    # keyed on "the micro-batch" would be packing-dependent. Keying on
    # the persisted file_idx instead (s14 folds it into batch_key)
    # makes the hashed chunk structure a pure data property.
    tiled = ev.withColumn(
        "file_idx", F.ntile(m).over(Window.orderBy("ts", "event_id")) - 1
    )
    base = tempfile.mkdtemp(prefix="bw_restart_")
    watch = os.path.join(base, "src")
    os.makedirs(watch)
    stage = os.path.join(base, "_stage")
    # One write job for all m files: repartition on a duplicate of the
    # tile (partitionBy consumes its column; the rows must KEEP
    # file_idx) puts each tile's rows in exactly one task, so each
    # partition dir holds exactly one part file; sortWithinPartitions
    # reproduces the old per-file (ts, event_id) row order.
    (
        tiled.withColumn("file_part", F.col("file_idx"))
        .repartition(m, "file_part")
        .sortWithinPartitions("ts", "event_id")
        .write.partitionBy("file_part")
        .mode("overwrite")
        .parquet(stage)
    )
    t0 = _time.time() - 7200
    for i in range(m):
        part = _glob.glob(
            os.path.join(stage, f"file_part={i}", "part-*.parquet")
        )
        assert len(part) == 1, f"staging tile {i}: {len(part)} files"
        dst = os.path.join(watch, f"ev{i:03d}.parquet")
        _shutil.move(part[0], dst)
        os.utime(dst, (t0 + 60 * i, t0 + 60 * i))
    _shutil.rmtree(stage, ignore_errors=True)
    schema = spark.read.parquet(watch).schema
    _STAGE_CACHE[(sf_dir, m)] = (watch, schema, n)
    return watch, schema, n


def _progress_rows(p) -> int:
    """numInputRows from a StreamingQueryProgress across PySpark's
    dict/object/json representations."""
    if p is None:
        return 0
    d = p if isinstance(p, dict) else None
    if d is None and hasattr(p, "asDict"):
        d = p.asDict()
    if d is None:
        import json as _json

        d = _json.loads(p.json)
    return int(d.get("numInputRows") or 0)


def _progress_batch_id(p) -> int:
    """batchId from a StreamingQueryProgress across PySpark's
    dict/object/json representations (-1 when absent)."""
    if p is None:
        return -1
    d = p if isinstance(p, dict) else None
    if d is None and hasattr(p, "asDict"):
        d = p.asDict()
    if d is None:
        import json as _json

        d = _json.loads(p.json)
    try:
        return int(d.get("batchId"))
    except (TypeError, ValueError):
        return -1


def _await_acks(spark, q, path, expected, deadline_s=240, label="drain"):
    """Wait until the ack log at ``path`` holds ≥ ``expected`` rows.

    Poll shape matters for the drain floor: a parquet count() is a
    full Spark job (~0.2-0.3 s), so a fixed-interval count loop both
    burns jobs while batches are still running and adds granularity
    slop after the decisive batch. Here the loop watches
    ``q.lastProgress.batchId`` driver-side (free) at 100 ms and
    re-counts the parquet only when a NEW micro-batch has committed —
    the count runs immediately after the batch that could have
    completed the drain. batchId (not input rows) is the correct
    trigger: stateful drains flush their final remainders via key
    timers in batches with ZERO input rows (watching row-batches
    stalls for the recentProgress buffer to drift — the s9/s15 125 s
    regression this replaced), foreachBatch sinks report no
    numOutputRows, and with processingTime triggers Spark SKIPS
    batches while truly idle, so batchId only advances when work
    (rows or timers) actually ran. Sink writes happen inside the
    micro-batch, so rows are visible in the ack log by the time the
    progress event appears. Returns the final count; raises on
    deadline."""
    import time as _time

    deadline = _time.time() + deadline_s
    counted_bid = None
    acked = 0
    while _time.time() < deadline:
        bid = _progress_batch_id(q.lastProgress)
        if bid != counted_bid:
            try:
                n = spark.read.parquet(path).count()
            except Exception:
                # Transient read failure (or the sink dir not created
                # yet): do NOT advance counted_bid — if this was the
                # drain-completing batch, advancing would mean no
                # recount until a batch that may never come (r12
                # ADVICE: a single transient failure stalled to the
                # deadline). Back off briefly and retry the count.
                _time.sleep(0.4)
                continue
            counted_bid = bid
            acked = n
            if acked >= expected:
                return acked
        _time.sleep(0.1)
    raise RuntimeError(f"{label} incomplete: {acked}/{expected} acks")


def _kill_mid_drain(q, deadline_s: int = 120) -> int:
    """Stop a streaming query as soon as ≥1 micro-batch WITH ROWS has
    committed — the simulated executor/driver loss. The kill point is
    deliberately racy (more batches may commit first); the drains hash
    only kill-point-invariant results. Returns committed-with-rows
    batch count at the stop."""
    import time as _time

    deadline = _time.time() + deadline_s
    seen = 0
    while _time.time() < deadline:
        seen = sum(1 for p in q.recentProgress if _progress_rows(p) > 0)
        if seen >= 1:
            break
        _time.sleep(0.1)
    q.stop()
    q.awaitTermination(60)
    if seen < 1:
        raise RuntimeError("restart drain: no batch committed before kill")
    return seen


def _ack_invariant_rows(ack: DataFrame) -> DataFrame:
    """The exactly-once invariant as hashable rows: total ack rows and
    distinct ack_data — equal to each other (and to the oracle's
    ackable-row count) iff no ack was lost or duplicated across the
    kill+resume."""
    inv = ack.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("ack_data").alias("n_distinct"),
    )
    return inv.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("ack_rows").alias("outcome"),
                    F.col("n_rows").alias("n"),
                ),
                F.struct(
                    F.lit("ack_distinct").alias("outcome"),
                    F.col("n_distinct").alias("n"),
                ),
            )
        ).alias("e")
    ).select(
        F.lit("invariant").alias("section"),
        F.lit("all").alias("batcher"),
        F.col("e.outcome").alias("outcome"),
        F.lit("-").alias("trigger"),
        F.lit(-1).cast("bigint").alias("bsz"),
        F.col("e.n").alias("n"),
        F.lit(None).cast("double").alias("sum_value"),
    )


def q_s14_restart_topology(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECKPOINT-RESTART EQUIVALENCE, stateless router: the full r5
    topology (failure diversion, flush mode, early/retry ack policies,
    size + budget chunking, handle_batch, handle_failed, DLQ, ack log)
    over RESTART_M staged micro-batches, killed after the first
    committed batch, resumed from the checkpoint, drained — then
    hash-checked against the window-function twin extended with the
    ntile file split, PLUS the exactly-once invariant rows. Idempotent
    sinks make the replayed in-flight batch land exactly once, and the
    staged file_idx folded into batch_key makes the hashed chunk
    structure independent of how the engine packs files into
    micro-batches across the kill/resume."""
    import os
    import tempfile
    import uuid as _uuid

    from broadway_spark import message as M
    from broadway_spark.config import (
        BatcherConfig,
        SinkConfig,
        TopologyConfig,
    )
    from broadway_spark.plans import Pipeline
    from broadway_spark.sources import FileStreamSource

    watch, schema, _n = _stage_event_files(spark, sf_dir)
    src = FileStreamSource("events", watch, schema, max_files_per_trigger=1)
    base = tempfile.mkdtemp(prefix="bw_s14_")

    def d(sub: str) -> str:
        return os.path.join(base, sub)

    def handle_message(df):
        df = FL.with_status(
            df, F.col("event_type") == "error", "poison:error-event"
        )
        df = df.withColumn(
            "w_cents", F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")
        )
        df = df.withColumn(
            "batch_mode",
            F.when(F.col("event_type") == "signup", F.lit("flush")).otherwise(
                F.col("batch_mode")
            ),
        )
        df = M.ack_immediately(
            df,
            when=(F.col("event_type") != "error")
            & (F.col("user_id") % 7 == 0),
        )
        df = M.configure_ack(
            df,
            "retry",
            when=(F.col("event_type") == "error")
            & (F.col("user_id") % 5 == 0),
        )
        return df

    cfg = TopologyConfig(
        name=f"s14_restart_{_uuid.uuid4().hex[:8]}",
        transformer=lambda df: df.drop("ts"),
        handle_message=handle_message,
        route_by=F.when(F.col("event_type") == "purchase", F.lit("billing")),
        # batch_key folds in the persisted file_idx so the chunk
        # structure is per (file, user-bucket) BY CONSTRUCTION —
        # identical no matter how the engine packs pending files into
        # micro-batches across the kill/resume (the oracle twin
        # partitions its chunk windows the same way).
        batch_key_by=F.concat_ws(
            "_",
            (F.col("user_id") % 10).cast("string"),
            F.col("file_idx").cast("string"),
        ),
        order_by="event_id",
        batchers={
            "billing": BatcherConfig(batch_size=16),
            "default": BatcherConfig(batch_size=("w_cents", 20000.0)),
        },
        sinks={
            "billing": SinkConfig(path=d("sink_billing"), idempotent=True),
            "default": SinkConfig(path=d("sink_default"), idempotent=True),
        },
        dlq=SinkConfig(path=d("dlq"), idempotent=True),
        ack_log=SinkConfig(path=d("ack"), idempotent=True),
        checkpoint_dir=d("ckpt"),
        handle_batch=_drain_handle_batch,
        handle_failed=lambda pdf: pdf,
        # Both phases run at 8 shuffle partitions: the router's chunking
        # windows shuffle per batcher per micro-batch, and at gate scale
        # 32-task overhead dominates (measured 13.7 -> 8.7 s warm).
        state_partitions=8,
    )
    # Phase 1: run at a 1 s cadence (one file per trigger), kill after
    # the first committed batch — mid-stream, files outstanding.
    q = Pipeline(cfg, src).start(
        spark, trigger="processingTime", processing_time=_RESTART_KILL_TRIGGER
    )
    _kill_mid_drain(q)
    # Phase 2: resume from the checkpoint and drain what remains —
    # WITHOUT the 1-file-per-trigger cadence (r12 verdict item 5).
    # The cadence exists only to give phase 1 a mid-stream kill point;
    # the chunk structure keys on the PERSISTED file_idx, not on
    # micro-batch packing, so packing every outstanding file into one
    # resume batch is oracle-identical by construction and saves the
    # per-batch state-store/commit floor on m-2 batches.
    src_resume = FileStreamSource("events", watch, schema)
    q2 = Pipeline(cfg, src_resume).start(spark, trigger="availableNow")
    try:
        if not q2.awaitTermination(600):
            raise RuntimeError("s14 resume did not complete in 600s")
    finally:
        if q2.isActive:
            q2.stop()

    ack = spark.read.parquet(d("ack"))
    ack_agg = (
        ack.groupBy(
            "batcher",
            "outcome",
            F.coalesce("trigger", F.lit("-")).alias("trigger"),
            F.coalesce(F.col("batch_size").cast("bigint"), F.lit(-1)).alias(
                "bsz"
            ),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("ack").alias("section"),
            "batcher",
            "outcome",
            "trigger",
            "bsz",
            "n",
            F.lit(None).cast("double").alias("sum_value"),
        )
    )

    def sink_row(name: str):
        return (
            spark.read.parquet(d(f"sink_{name}"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                _dsum("value").alias("sum_value"),
            )
            .select(
                F.lit("sink").alias("section"),
                F.lit(name).alias("batcher"),
                F.lit("rows").alias("outcome"),
                F.lit("-").alias("trigger"),
                F.lit(-1).cast("bigint").alias("bsz"),
                "n",
                "sum_value",
            )
        )

    dlq_agg = (
        spark.read.parquet(d("dlq"))
        .groupBy("batcher", "dlq_disposition")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dsum("value").alias("sum_value"),
        )
        .select(
            F.lit("dlq").alias("section"),
            "batcher",
            F.col("dlq_disposition").alias("outcome"),
            F.lit("-").alias("trigger"),
            F.lit(-1).cast("bigint").alias("bsz"),
            "n",
            "sum_value",
        )
    )
    return (
        ack_agg.unionByName(sink_row("billing"))
        .unionByName(sink_row("default"))
        .unionByName(dlq_agg)
        .unionByName(_ack_invariant_rows(ack))
    )


def q_s15_restart_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECKPOINT-RESTART EQUIVALENCE, stateful batcher
    (applyInPandasWithState buffers + per-key timeout timers): the s9
    topology over RESTART_M staged micro-batches, killed after the
    first committed batch — buffered remainders resident in the state
    store — resumed from the checkpoint, drained to all-N acks. Hashes
    delivery totals (per-batcher ack outcomes, sink counts + exact
    value sums, DLQ) plus the exactly-once invariant: WHICH trigger
    flushes a chunk is wall-clock-dependent across batch boundaries by
    design (B3), WHAT is delivered is not — lost state would strand
    buffered rows below N, replayed flushes would break the distinct
    count."""
    import os
    import tempfile
    import time as _time
    import uuid as _uuid

    from broadway_spark.config import (
        BatcherConfig,
        SinkConfig,
        TopologyConfig,
    )
    from broadway_spark.plans import Pipeline
    from broadway_spark.sources import FileStreamSource

    watch, schema, expected = _stage_event_files(spark, sf_dir)
    src = FileStreamSource("events", watch, schema, max_files_per_trigger=1)
    base = tempfile.mkdtemp(prefix="bw_s15_")

    def d(sub: str) -> str:
        return os.path.join(base, sub)

    cfg = TopologyConfig(
        name=f"s15_restart_{_uuid.uuid4().hex[:8]}",
        transformer=lambda df: df.drop("ts"),
        handle_message=lambda df: FL.with_status(
            df, F.col("event_type") == "error", "poison:error-event"
        ).withColumn(
            "batch_mode",
            F.when(F.col("event_type") == "signup", F.lit("flush")).otherwise(
                F.col("batch_mode")
            ),
        ),
        route_by=F.when(F.col("event_type") == "purchase", F.lit("billing")),
        batch_key_by=F.col("user_id") % 10,
        order_by="event_id",
        batchers={
            "billing": BatcherConfig(batch_size=16, batch_timeout_ms=500),
            "default": BatcherConfig(batch_size=25, batch_timeout_ms=500),
        },
        sinks={
            "billing": SinkConfig(path=d("sink_billing"), idempotent=True),
            "default": SinkConfig(path=d("sink_default"), idempotent=True),
        },
        dlq=SinkConfig(path=d("dlq"), idempotent=True),
        ack_log=SinkConfig(path=d("ack"), idempotent=True),
        checkpoint_dir=d("ckpt"),
        state_partitions=8,
    )
    # Phase 1: kill after the first committed batch (state store holds
    # per-key remainders; later files unread).
    q = Pipeline(cfg, src).start_stateful(
        spark, processing_time=_RESTART_KILL_TRIGGER
    )
    _kill_mid_drain(q)
    # Phase 2: resume from the checkpoint; the restored buffers absorb
    # the remaining files; timers flush the final remainders. Drain =
    # every one of the N rows acked exactly once. The resume source
    # lifts the 1-file cadence (s14/s33 toolkit): delivery totals and
    # the exactly-once invariant are batch-packing-independent by
    # design (WHICH trigger flushes a chunk is already timing-
    # dependent), and each extra micro-batch costs a fixed stateful-
    # commit round.
    src_resume = FileStreamSource("events", watch, schema)
    q2 = Pipeline(cfg, src_resume).start_stateful(
        spark, processing_time="250 milliseconds"
    )
    try:
        _await_acks(spark, q2, d("ack"), expected, label="s15 resume")
    finally:
        q2.stop()
        q2.awaitTermination(60)

    ack = spark.read.parquet(d("ack"))
    ack_agg = (
        ack.groupBy("batcher", "outcome")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("ack").alias("section"),
            "batcher",
            "outcome",
            F.lit("-").alias("trigger"),
            F.lit(-1).cast("bigint").alias("bsz"),
            "n",
            F.lit(None).cast("double").alias("sum_value"),
        )
    )

    def sink_row(name: str):
        return (
            spark.read.parquet(d(f"sink_{name}"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                _dsum("value").alias("sum_value"),
            )
            .select(
                F.lit("sink").alias("section"),
                F.lit(name).alias("batcher"),
                F.lit("rows").alias("outcome"),
                F.lit("-").alias("trigger"),
                F.lit(-1).cast("bigint").alias("bsz"),
                "n",
                "sum_value",
            )
        )

    dlq_agg = (
        spark.read.parquet(d("dlq"))
        .groupBy("batcher")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dsum("value").alias("sum_value"),
        )
        .select(
            F.lit("dlq").alias("section"),
            "batcher",
            F.lit("failed").alias("outcome"),
            F.lit("-").alias("trigger"),
            F.lit(-1).cast("bigint").alias("bsz"),
            "n",
            "sum_value",
        )
    )
    return (
        ack_agg.unionByName(sink_row("billing"))
        .unionByName(sink_row("default"))
        .unionByName(dlq_agg)
        .unionByName(_ack_invariant_rows(ack))
    )


def _staged_events_stream(
    spark: SparkSession, watch: str, schema, files_per_trigger: int | None = 1
):
    """Streaming read of the staged event files, one file per trigger
    by default (``files_per_trigger=None`` lifts the cap — a resume
    drain whose RESULT is batch-structure-independent can take the
    remaining files in one micro-batch instead of paying the fixed
    per-batch stateful-commit cost once per file), ts normalized to
    TIMESTAMP (the _events_stream drift handling)."""
    reader = spark.readStream.schema(schema)
    if files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", files_per_trigger)
    stream = reader.parquet(watch)
    ts_type = {f.name: f.dataType.simpleString() for f in schema.fields}.get(
        "ts"
    )
    if ts_type == "bigint":
        return stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000"))
        )
    return stream.withColumn("ts", F.col("ts").cast("timestamp"))


def _idempotent_parquet_writer(path: str):
    """foreachBatch writer: each micro-batch overwrites its own
    batch_id partition — the standard exactly-once replay recipe."""

    def write(df: DataFrame, batch_id: int) -> None:
        df.write.mode("overwrite").parquet(f"{path}/batch_id={batch_id}")

    return write


def q_s16_restart_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECKPOINT-RESTART EQUIVALENCE, chained windowed stateful aggs:
    the s11 streaming MinHash-LSH near-dedup killed after the first
    committed batch (partial window aggregates + band-arbitration
    state in the store), resumed, drained availableNow. Emitted set =
    windows closed by the FINAL watermark — batch-split- and
    kill-point-independent, so the s11 oracle applies verbatim; lost
    state would corrupt the restored partial aggregates and break the
    hash."""
    import os
    import tempfile

    watch, schema, _n = _stage_event_files(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="bw_s16_")
    sink, ckpt = os.path.join(base, "sink"), os.path.join(base, "ckpt")

    def build(files_per_trigger: int | None = 1):
        # run 1 paces one file per trigger for a mid-drain kill point;
        # the RESUME lifts the cap (s14/s33 toolkit): the emitted set
        # is the final-watermark cutoff — batch-packing-independent —
        # and each extra batch costs a fixed stateful-commit round
        return D.streaming_near_dedup(
            _staged_events_stream(spark, watch, schema, files_per_trigger),
            "event_id",
            "props",
            "ts",
            watermark_delay="1 hour",
            window_duration="1 hour",
            num_hashes=MINHASH_NUM,
            bands=MINHASH_BANDS,
            shingle_k=MINHASH_K,
        )

    writer = _idempotent_parquet_writer(sink)
    with _pinned_state_partitions(spark):
        q = (
            build()
            .writeStream.foreachBatch(writer)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime=_RESTART_KILL_TRIGGER)
            .start()
        )
    _kill_mid_drain(q)
    with _pinned_state_partitions(spark):
        q2 = (
            build(files_per_trigger=None)
            .writeStream.foreachBatch(writer)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
    try:
        if not q2.awaitTermination(600):
            raise RuntimeError("s16 resume did not complete in 600s")
    finally:
        if q2.isActive:
            q2.stop()
    return spark.read.parquet(sink).select(
        "event_id",
        F.date_format("win_start", "yyyy-MM-dd HH:00").alias("bucket"),
    )


def q_s17_restart_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECKPOINT-RESTART EQUIVALENCE, stream-stream join: the s12
    purchases-to-clicks range join killed after the first committed
    batch (both sides' join buffers in the state store), resumed,
    drained availableNow. In-order staged arrival means no late data,
    so the emitted matches equal the batch join regardless of the kill
    point — the s12 oracle applies verbatim; lost buffer state would
    drop cross-file matches and break the hash."""
    import os
    import tempfile

    watch, schema, _n = _stage_event_files(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="bw_s17_")
    sink, ckpt = os.path.join(base, "sink"), os.path.join(base, "ckpt")

    def build(files_per_trigger: int | None = 1):
        # resume lifts the 1-file cadence (s14/s33 toolkit): inner-join
        # completeness is batch-packing-independent
        ev = _staged_events_stream(spark, watch, schema, files_per_trigger)
        purchases, clicks = _purchase_click_sides(ev)
        return purchases.join(clicks, _click_window_cond()).select(
            "purchase_id",
            "click_id",
            "user_id",
            (
                F.unix_micros(F.col("p_ts")) - F.unix_micros(F.col("c_ts"))
            ).alias("gap_micros"),
        )

    writer = _idempotent_parquet_writer(sink)
    with _pinned_state_partitions(spark):
        q = (
            build()
            .writeStream.foreachBatch(writer)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime=_RESTART_KILL_TRIGGER)
            .start()
        )
    _kill_mid_drain(q)
    with _pinned_state_partitions(spark):
        q2 = (
            build(files_per_trigger=None)
            .writeStream.foreachBatch(writer)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
    try:
        if not q2.awaitTermination(600):
            raise RuntimeError("s17 resume did not complete in 600s")
    finally:
        if q2.isActive:
            q2.stop()
    return spark.read.parquet(sink).select(
        "purchase_id", "click_id", "user_id", "gap_micros"
    )


def q_s31_restart_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECKPOINT-RESTART EQUIVALENCE, LEFT-SEMI stream-stream join:
    the s29 streaming EXISTS killed after the first committed batch,
    resumed, drained availableNow. Semi-join state is a DISTINCT
    restart family from s17's inner join: besides both join buffers,
    the store tracks which left rows ALREADY EMITTED — a lost
    emission bit would re-emit a matched purchase on replay and the
    duplicate breaks the hash (the inner join tolerates that
    failure; output multiplicity hides it). In-order staged arrival
    means no late data, so the resumed drain equals the batch EXISTS
    — the s29 oracle verbatim."""
    import os
    import tempfile

    watch, schema, _n = _stage_event_files(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="bw_s31_")
    sink, ckpt = os.path.join(base, "sink"), os.path.join(base, "ckpt")

    def build(files_per_trigger: int | None = 1):
        # resume lifts the 1-file cadence (s14/s33 toolkit): the EXISTS
        # set is batch-packing-independent
        ev = _staged_events_stream(spark, watch, schema, files_per_trigger)
        purchases, clicks = _purchase_click_sides(ev, with_click_id=False)
        return purchases.join(
            clicks,
            _click_window_cond(),
            "left_semi",
        ).select(
            "purchase_id",
            "user_id",
            F.unix_micros(F.col("p_ts")).alias("p_us"),
        )

    writer = _idempotent_parquet_writer(sink)
    with _pinned_state_partitions(spark):
        q = (
            build()
            .writeStream.foreachBatch(writer)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime=_RESTART_KILL_TRIGGER)
            .start()
        )
    _kill_mid_drain(q)
    with _pinned_state_partitions(spark):
        q2 = (
            build(files_per_trigger=None)
            .writeStream.foreachBatch(writer)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
    try:
        if not q2.awaitTermination(600):
            raise RuntimeError("s31 resume did not complete in 600s")
    finally:
        if q2.isActive:
            q2.stop()
    return spark.read.parquet(sink).select(
        "purchase_id", "user_id", "p_us"
    )


def q_f3_restart_spool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECKPOINT-RESTART EQUIVALENCE, custom Python data source: the
    f2 spool drain (DataSourceStreamReader with driver-side admission
    in latestOffset) killed after the first committed batch and
    resumed from the checkpoint. Spark's offset WAL + the spool's
    committed-offset resume mean every batch is a contiguous
    `allowed`-sized range of the spool in order, replay included — so
    re-indexing batches by their min event_id rank yields EXACTLY the
    uninterrupted run's bucket table, and f2's row-bucketing oracle
    applies with the same batch numbering. This is the restart proof
    for OUR source code path (initialOffset/latestOffset/commit),
    not Spark's built-in file source. The idempotent ack log makes
    the replayed in-flight batch land once; a lost or re-planned
    offset would shift a bucket boundary and break the hash."""
    import os
    import tempfile
    import time as _time
    import uuid as _uuid

    from broadway_spark.config import SinkConfig, TopologyConfig
    from broadway_spark.plans import Pipeline
    from broadway_spark.sources import SpoolSource

    ev = (
        _t(spark, sf_dir, "events")
        .select("event_id", "event_type", "value")
        .orderBy("event_id")
        .limit(F2_N)
    )
    records = [
        {
            "event_id": r["event_id"],
            "event_type": r["event_type"],
            "value": r["value"],
        }
        for r in ev.collect()  # test-harness materialization, not a hot path
    ]
    base = tempfile.mkdtemp(prefix="bw_f3_")
    src = SpoolSource(
        name=f"f3spool_{_uuid.uuid4().hex[:8]}",
        path=f"{base}/spool",
        schema_ddl="event_id long, event_type string, value double",
        ack_data_column="event_id",
        allowed_per_trigger=F2_ALLOWED,
    )
    src.push_messages(records, "000_backlog.jsonl")
    cfg = TopologyConfig(
        name=f"f3-restart-{_uuid.uuid4().hex[:8]}",
        order_by="event_id",
        ack_log=SinkConfig(path=f"{base}/ack", idempotent=True),
        checkpoint_dir=f"{base}/ckpt",
        state_partitions=8,
    )
    n_expected = len(records)
    q = Pipeline(cfg, src).start(
        spark, trigger="processingTime", processing_time=_RESTART_KILL_TRIGGER
    )
    _kill_mid_drain(q)
    q2 = Pipeline(cfg, src).start(
        spark, trigger="processingTime", processing_time="200 milliseconds"
    )
    try:
        _await_acks(
            spark, q2, f"{base}/ack", n_expected, label="f3 resume"
        )
    finally:
        q2.stop()
        q2.awaitTermination(60)
    ack = spark.read.parquet(f"{base}/ack")
    ids = ack.select(
        F.col("batch_id").alias("__bid"),
        F.col("ack_data").cast("long").alias("event_id"),
    )
    per_batch = (
        ids.join(ev, "event_id")
        .groupBy("__bid")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
            _dsum("value").alias("sum_value"),
        )
    )
    # Re-index by spool order: physical batch ids differ across the
    # kill/resume but the covered ranges do not.
    w = Window.orderBy("min_id")
    return per_batch.select(
        (F.row_number().over(w) - 1).cast("bigint").alias("batch_id"),
        "n",
        "min_id",
        "max_id",
        "sum_value",
    )


def q_s18_restart_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECKPOINT-RESTART EQUIVALENCE, transformWithStateInPandas:
    the s10 unbounded exact streaming dedup (RocksDB ValueState)
    killed after the first committed batch — seen-key state resident
    in the store — resumed, drained availableNow. The staged files are
    contiguous (ts, event_id) ranges and event_id is monotone in that
    order, so first-occurrence-wins over in-order arrival equals the
    batch min-event_id keeper regardless of the kill point: the s10
    oracle applies verbatim. Lost ValueState would re-admit already
    seen keys (extra rows); a replayed batch without its state commit
    re-emits exactly its own keeper rows into its own idempotent
    batch_id partition. Completes the restart matrix across every
    state backend the engine uses (foreachBatch router, applyInPandas-
    WithState, windowed aggs, stream-stream join, TWS/RocksDB)."""
    import os
    import tempfile

    from broadway_spark.streaming.stateful_dedup import (
        streaming_exact_dedup,
        use_rocksdb_state,
    )

    watch, schema, _n = _stage_event_files(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="bw_s18_")
    sink, ckpt = os.path.join(base, "sink"), os.path.join(base, "ckpt")

    prev_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    use_rocksdb_state(spark)
    spark.conf.set("spark.sql.shuffle.partitions", "8")  # tiny key space
    writer = _idempotent_parquet_writer(sink)
    try:

        def build(files_per_trigger: int | None = 1):
            # resume lifts the 1-file cadence (s14/s33 toolkit): the
            # keeper per key is the min-event_id row (DedupProcessor
            # sorts by order_by within the batch), so the emitted set
            # is batch-packing-independent
            reader = spark.readStream.schema(schema)
            if files_per_trigger is not None:
                reader = reader.option("maxFilesPerTrigger", files_per_trigger)
            stream = reader.parquet(watch)
            slim = stream.select("user_id", "event_id", "event_type", "value")
            return streaming_exact_dedup(slim, ["user_id"], order_by="event_id")

        q = (
            build()
            .writeStream.foreachBatch(writer)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime=_RESTART_KILL_TRIGGER)
            .start()
        )
        _kill_mid_drain(q)
        q2 = (
            build(files_per_trigger=None)
            .writeStream.foreachBatch(writer)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            if not q2.awaitTermination(600):
                raise RuntimeError("s18 resume did not complete in 600s")
        finally:
            if q2.isActive:
                q2.stop()
    finally:
        if prev_provider is not None:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev_provider
            )
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)
    return spark.read.parquet(sink).select(
        "user_id", "event_id", "event_type", "value"
    )


# ------------------------------------------------------------------
# Round 7: graph analytics (degree-ordered triangle counting), DS q88/
# q67 relational shapes, readability quality signals, and the
# foreachBatch idempotent streaming-upsert sink shape.


TRI_TOPK = 10  # ranked vertices reported by graph_triangles

def _co_order_triangles(spark: SparkSession, sf_dir: str):
    """Shared graph prefix for the triangle-family queries: the
    parts-co-ordered edge set (canonical u < v, MATERIALIZED once —
    it feeds five consumers), vertex degrees, and the exact triangle
    enumeration via degree-ordered wedges + shuffle-hash closure (see
    q_graph_triangles for the full scale rationale). Returns
    (pp, edges, deg, tri) where tri rows are one per triangle with
    vertices in orientation order."""
    li = _t(spark, sf_dir, "lineitem")
    # pp and deg are barriers too (r14): pp feeds both sides of the
    # edge self-join AND q_graph_triangles' vertex-total branch (which
    # otherwise re-scans lineitem + re-runs the distinct); deg feeds
    # the orientation join twice here plus two more consumers in
    # q_graph_edge_strength's Jaccard denominators — each would re-run
    # the 2|E|-row union + aggregate from the edge cache. Both won a
    # same-window A/B against recomputing (OPTIMIZATION_r15.md §2).
    # The edge table `e` feeds the wedge join twice plus the closure
    # join.
    pp = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    pp = materialize(pp, "tri_pp")
    e = materialize(
        pp.alias("a")
        .join(
            pp.alias("b"),
            (F.col("a.ok") == F.col("b.ok"))
            & (F.col("a.pk") < F.col("b.pk")),
        )
        .select(F.col("a.pk").alias("u"), F.col("b.pk").alias("v"))
        .distinct(),
        "tri_edges",
    )
    deg = (
        e.select(F.col("u").alias("x"))
        .unionAll(e.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    deg = materialize(deg, "tri_deg")
    ed = (
        e.join(deg.select(F.col("x").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("x").alias("v"), F.col("d").alias("dv")), "v")
    )
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ed.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
    )
    wedges = (
        oriented.alias("e1")
        .join(
            oriented.alias("e2").hint("shuffle_hash"),
            (F.col("e1.src") == F.col("e2.src"))
            & (F.col("e1.dst") < F.col("e2.dst")),
        )
        .select(
            F.col("e1.src").alias("a"),
            F.col("e1.dst").alias("b"),
            F.col("e2.dst").alias("c"),
        )
    )
    tri = wedges.join(
        e.hint("shuffle_hash"),
        (F.col("b") == F.col("u")) & (F.col("c") == F.col("v")),
    ).select("a", "b", "c")
    return pp, e, deg, tri


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-ordered triangle counting over the parts-co-ordered-
    together graph (vertices = parts, edge iff two parts appear in the
    same order): global vertex/edge/triangle counts plus the TRI_TOPK
    parts ranked by triangle participation — the co-occurrence-motif
    pass a dataset curation pipeline runs to find tightly-clustered
    near-boilerplate groups.

    Spark-first shape (Suri & Vassilvitskii WWW'11 / Schank-Wagner):
    every edge is ORIENTED from its lower-(degree, id) endpoint before
    the wedge self-join, so a hub of degree d generates O(d_out²)
    wedges with d_out bounded by the graph's degeneracy — NOT the
    O(d²) a naive adjacency self-join pays on skewed degree
    distributions. Wedge closure is one equi-join against the
    canonical edge set. Edge construction pairs parts within an
    order (bounded fan-out: order size ≤ a small constant in this
    schema), then dedups — one (orderkey) shuffle plus one (u, v)
    distinct. The triangle SET is orientation-invariant, so the
    id-ordered DuckDB twin is implementation-independent ground
    truth.

    Plan notes (measured at sf0.1: 860k edges, ~1.9M triangles):
    the edge set feeds five consumers (degree count twice,
    orientation, closure, edge total) — materialized once, the
    persist|staging barrier. Both fat joins carry SHUFFLE_HASH
    hints: sort-merge would sort the ~18M-row wedge fan-out, and
    sorting is pure overhead for a join whose build sides (oriented
    edges, canonical edges) hash-fit per partition — measured 21→9 s.
    The triangle total is derived from the per-vertex counts
    (Σn/3), not a second pass over the triangle subtree (union
    branches don't share subtrees in Catalyst)."""
    pp, e, _deg, tri = _co_order_triangles(spark, sf_dir)
    pv = materialize(
        tri.select(F.explode(F.array("a", "b", "c")).alias("x"))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("n")),
        "tri_vertex_counts",
    )
    wtop = Window.orderBy(F.col("n").desc(), F.col("x"))
    topk = (
        pv.withColumn("rk", F.row_number().over(wtop).cast("int"))
        .filter(F.col("rk") <= TRI_TOPK)
        .select(
            F.lit("vertex").alias("kind"),
            F.col("x").alias("pk"),
            F.col("n").cast("long").alias("n"),
            "rk",
        )
    )
    zero = F.lit(0).cast("int")
    totals = (
        pv.agg((F.sum("n") / 3).cast("long").alias("c"))
        .select(
            F.lit("triangles").alias("kind"),
            F.lit(-1).cast("long").alias("pk"),
            F.col("c").alias("n"),
            zero.alias("rk"),
        )
        .unionAll(
            e.agg(F.count(F.lit(1)).alias("c")).select(
                F.lit("edges").alias("kind"),
                F.lit(-1).cast("long").alias("pk"),
                F.col("c").cast("long").alias("n"),
                zero.alias("rk"),
            )
        )
        .unionAll(
            pp.select("pk")
            .distinct()
            .agg(F.count(F.lit(1)).alias("c"))
            .select(
                F.lit("vertices").alias("kind"),
                F.lit(-1).cast("long").alias("pk"),
                F.col("c").cast("long").alias("n"),
                zero.alias("rk"),
            )
        )
    )
    return topk.unionAll(totals)


DS8_BAND_HOURS = 3  # eight contiguous 3-hour bands cover the day


def q_ds8_time_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DS-q88-style time-band census: per event type, the row count in
    each of eight 3-hour time-of-day bands plus the daily total — in
    ONE scan. REFORMULATED Spark-first: the textbook q88 is eight
    separate scalar subqueries (eight fact scans + a cross join of the
    eight 1-row results); here each band is a conditional aggregate
    over the same scan, so the plan is scan → partial agg → one
    ~5-group exchange.

    Scale shape: the single-pass multi-predicate census — 8 bands or
    80, it stays one fact scan with map-side partials; no repeated
    reads, nothing to broadcast."""
    ev = _t(spark, sf_dir, "events")
    h = F.hour("ts")
    bands = [
        F.sum(
            F.when(
                (h >= DS8_BAND_HOURS * i) & (h < DS8_BAND_HOURS * (i + 1)), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias(f"band_h{DS8_BAND_HOURS * i:02d}")
        for i in range(8)
    ]
    return ev.groupBy("event_type").agg(
        *bands, F.count(F.lit(1)).alias("n_total")
    )


DS9_TOPK = 5  # ranked rows kept per rollup level


def q_ds9_rollup_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DS-q67-style rollup + per-level top-k: revenue ROLLUP over
    (brand, ship_year), then the DS9_TOPK best rows WITHIN EACH
    grouping level by a window rank — the 'best sellers at every
    granularity' report. One Expand feeds one partial-agg shuffle
    (the rollup), one window pass ranks the ~few-hundred GROUP rows;
    the part dimension is broadcast so the fact scan never shuffles
    before aggregation.

    Exactness: revenue stays DECIMAL through the rollup and the rank
    ordering (ties broken on (brand, year) with NULL sentinels);
    doubles only in the output column."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rows = li.join(
        F.broadcast(part.select("p_partkey", "p_brand")),
        F.col("l_partkey") == F.col("p_partkey"),
    ).select(
        F.col("p_brand").alias("brand"),
        F.year("l_shipdate").alias("ship_year"),
        _dp().alias("net"),
    )
    agg = rows.rollup("brand", "ship_year").agg(F.sum("net").alias("net"))
    lvl = (
        F.when(F.col("brand").isNull() & F.col("ship_year").isNull(), 2)
        .when(F.col("ship_year").isNull(), 1)
        .otherwise(0)
        .cast("int")
    )
    leveled = agg.withColumn("lvl", lvl)
    w = Window.partitionBy("lvl").orderBy(
        F.col("net").desc(),
        F.coalesce(F.col("brand"), F.lit("")),
        F.coalesce(F.col("ship_year"), F.lit(-1)),
    )
    return (
        leveled.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= DS9_TOPK)
        .select(
            "lvl",
            "brand",
            "ship_year",
            F.col("net").cast("double").alias("net_amt"),
            "rk",
        )
    )


def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability quality signal, integer-exact: per document the
    word count, the vowel-cluster syllable proxy (count of maximal
    [aeiouy]+ runs — the deterministic stand-in for dictionary
    syllabification), syllables-per-100-words by INTEGER floor
    division (no float path anywhere), and a three-way difficulty
    band — the cheap complexity gate a corpus-filtering pipeline
    applies before expensive model-based scoring.

    Scale shape: pure per-row codegen expressions (split + regexp
    count + arithmetic), zero shuffles, zero Python; the filter
    composes with any downstream predicate pushdown."""
    docs = _t(spark, sf_dir, "documents")
    n_words = F.size(F.split(F.col("text"), " "))
    n_syll = F.size(F.regexp_extract_all(F.lower("text"), F.lit("[aeiouy]+"), F.lit(0)))
    out = docs.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        n_syll.cast("long").alias("n_syllables"),
    ).withColumn(
        "syl_per_100w",
        F.expr("CAST((100 * n_syllables) DIV n_words AS BIGINT)"),
    )
    band = (
        F.when(F.col("syl_per_100w") < 130, "easy")
        .when(F.col("syl_per_100w") < 170, "medium")
        .otherwise("hard")
    )
    return out.withColumn("band", band)


S20_BUCKETS = 8  # target-table partitions; only touched buckets rewrite


def _manifest_upsert_sink(
    spark: SparkSession, target: str, retain_history: bool = False
):
    """A miniature snapshot table for foreachBatch streaming upsert:
    bucket-partitioned parquet versions committed through ONE
    atomically-replaced manifest.json — the Iceberg/Delta commit
    protocol in file-system form.

    Exactly-once argument: the manifest records (last_batch, bucket →
    version-dir). A batch (1) skips if manifest.last_batch >= its id
    (checkpoint replay), (2) merges its per-key aggregates with the
    CURRENT version of only the buckets it touches, (3) writes the
    merged buckets to NEW version dirs named by batch id, (4) commits
    by os.replace of the manifest — the single atomic step. A crash
    before (4) leaves the old manifest intact, so the replay re-reads
    the OLD bucket versions and re-stages; orphan version dirs from
    the failed attempt are simply overwritten. There is no window in
    which a replay can double-merge — the flaw of the naive
    publish-then-marker directory swap, where a crash between swap
    and marker makes the replay merge into already-merged data.
    Superseded versions are pruned after commit (best-effort: the
    manifest no longer references them).

    Returns (upsert_fn, read_current_fn)."""
    import json as _json
    import os
    import shutil as _shutil

    dec = "decimal(18,2)"
    manifest_path = os.path.join(target, "manifest.json")

    def _read_manifest() -> dict:
        if not os.path.exists(manifest_path):
            return {"last_batch": -1, "buckets": {}}
        with open(manifest_path) as fh:
            return _json.load(fh)

    def upsert(batch_df, batch_id):
        man = _read_manifest()
        if man["last_batch"] >= batch_id:  # checkpoint replay → no-op
            return
        part = (
            batch_df.filter(F.col("event_type") == "purchase")
            .groupBy(
                (F.col("user_id") % S20_BUCKETS).alias("bucket"), "user_id"
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast(dec)).cast(dec).alias("spend"),
            )
        )
        # ONE evaluation of the batch delta: `affected` (collected
        # below) and the staged write both read this materialized
        # snapshot, so a nondeterministic upstream transform can never
        # leave a bucket written-but-unreferenced in the manifest (or
        # vice versa). localCheckpoint truncates lineage — the delta
        # is micro-batch-sized, so executor-local storage is the right
        # cost even at cluster scale. (r7 advisor item 4.)
        part = part.localCheckpoint(eager=True)
        affected = sorted(
            r["bucket"] for r in part.select("bucket").distinct().collect()
        )
        merged = part
        current = [
            os.path.join(target, man["buckets"][str(b)])
            for b in affected
            if str(b) in man["buckets"]
        ]
        if current:
            cur = spark.read.parquet(*current).withColumn(
                "bucket", (F.col("user_id") % S20_BUCKETS).cast("long")
            )
            merged = part.unionByName(cur)
        merged = merged.groupBy("bucket", "user_id").agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("spend").cast(dec).alias("spend"),
        )
        stage = os.path.join(target, f"_v{batch_id}")
        merged.write.mode("overwrite").partitionBy("bucket").parquet(stage)
        old = dict(man["buckets"])
        for b in affected:
            vdir = os.path.join(stage, f"bucket={b}")
            if os.path.isdir(vdir):
                man["buckets"][str(b)] = f"_v{batch_id}/bucket={b}"
        man["last_batch"] = batch_id
        tmp = manifest_path + ".tmp"
        with open(tmp, "w") as fh:
            _json.dump(man, fh)
        os.replace(tmp, manifest_path)  # THE atomic commit
        if retain_history:  # time-travel mode: superseded versions
            return  # stay readable (Iceberg snapshot retention)
        for b in affected:  # prune superseded versions (post-commit)
            prev = old.get(str(b))
            if prev and prev != man["buckets"].get(str(b)):
                _shutil.rmtree(os.path.join(target, prev), ignore_errors=True)
                try:  # drop the version parent once its last bucket goes
                    parent = os.path.dirname(os.path.join(target, prev))
                    if not any(
                        d.startswith("bucket=") for d in os.listdir(parent)
                    ):
                        _shutil.rmtree(parent, ignore_errors=True)
                except OSError:
                    pass

    def read_current() -> DataFrame:
        man = _read_manifest()
        paths = [os.path.join(target, v) for v in man["buckets"].values()]
        if not paths:
            return spark.createDataFrame(
                [], "user_id long, n long, spend decimal(18,2)"
            )
        return spark.read.parquet(*paths)

    return upsert, read_current


def q_s20_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING UPSERT SINK ON THE ORACLE GATE — the foreachBatch
    exactly-once merge shape: the staged event stream folds per-user
    purchase aggregates into a bucket-partitioned snapshot table
    (`_manifest_upsert_sink` — manifest-committed versions, the
    Iceberg/Delta protocol in miniature), micro-batch by micro-batch.
    The final table equals the one-shot batch aggregate regardless of
    how the file source packed files into batches (merge is
    associative, sums decimal-exact); s21 proves the same under a
    kill-and-resume.

    Scale shape: per batch the work is O(batch + touched buckets),
    never O(table) — the property that makes streaming upsert viable
    when the target is 100 TB and a trigger touches a sliver of it.
    At cluster scale the manifest replace becomes the table format's
    atomic snapshot commit."""
    import os
    import tempfile

    watch, schema, _n = _stage_event_files(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="bw_s20_")
    target = os.path.join(base, "target")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(target)
    upsert, read_current = _manifest_upsert_sink(spark, target)

    with _pinned_state_partitions(spark):
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(watch)
            .select("user_id", "event_type", "value")
            .writeStream.foreachBatch(upsert)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            if not q.awaitTermination(240):
                raise RuntimeError("s20 upsert drain did not finish in 240s")
        finally:
            if q.isActive:
                q.stop()
    return read_current().select(
        "user_id",
        F.col("n").alias("n_purchases"),
        F.round(F.col("spend").cast("double"), 2).alias("spend"),
    )


def q_s21_restart_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KILL-AND-RESUME FOR THE STREAMING UPSERT SINK: same manifest-
    committed merge as s20, but the first query is stopped as soon as
    ≥1 micro-batch commits (simulated driver loss), then a second
    query resumes from the checkpoint and drains the rest. The gate
    hashes the final table — equal to the one-shot batch aggregate
    iff (a) the checkpoint replays no committed batch into the
    manifest twice (last_batch guard) and (b) no batch's merge was
    lost. This is the restart proof for the one sink family the
    s14-s18 matrix didn't cover: a MERGING foreachBatch sink, where
    naive replay double-counts rather than merely duplicating rows.

    Reference semantics: broadway_test.exs:2070-2348 (crash/restart
    isolation — resumed pipelines neither lose nor re-deliver)."""
    import os
    import tempfile

    watch, schema, _n = _stage_event_files(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="bw_s21_")
    target = os.path.join(base, "target")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(target)
    upsert, read_current = _manifest_upsert_sink(spark, target)

    def build(files_per_trigger: int | None = 1):
        # resume lifts the 1-file cadence (s14/s33 toolkit): the merge
        # is additive per key, so the final table is batch-packing-
        # independent
        reader = spark.readStream.schema(schema)
        if files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", files_per_trigger)
        return reader.parquet(watch).select("user_id", "event_type", "value")

    with _pinned_state_partitions(spark):
        q = (
            build()
            .writeStream.foreachBatch(upsert)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime=_RESTART_KILL_TRIGGER)
            .start()
        )
        _kill_mid_drain(q)
        q2 = (
            build(files_per_trigger=None)
            .writeStream.foreachBatch(upsert)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            if not q2.awaitTermination(600):
                raise RuntimeError("s21 resume did not complete in 600s")
        finally:
            if q2.isActive:
                q2.stop()
    return read_current().select(
        "user_id",
        F.col("n").alias("n_purchases"),
        F.round(F.col("spend").cast("double"), 2).alias("spend"),
    )


def q_s23_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL ON THE ORACLE GATE: two-phase streaming upsert with
    ``retain_history=True`` — the first drain folds event files 1-3
    into the snapshot table, the manifest is captured (the as-of
    snapshot), file 4 arrives, a second drain (same checkpoint)
    merges it, and the query returns the SNAPSHOT DIFF: per-user
    status inserted|updated with exact deltas — the
    Iceberg/Delta incremental-consumption read pattern. Correct iff
    (a) superseded versions stay readable after the second commit,
    (b) the second drain merges exactly file 4 (checkpoint dedup) and
    (c) the diff equals the last ntile's purchases computed from raw
    events — which is what the DuckDB twin checks. Both table reads
    touch only manifest-listed bucket dirs; the diff join keys on
    user_id with the snapshot side aggregated (never O(history))."""
    import glob as _glob
    import json as _json
    import os
    import shutil as _shutil
    import tempfile

    watch0, schema, _n = _stage_event_files(spark, sf_dir)
    files = sorted(_glob.glob(os.path.join(watch0, "ev*.parquet")))
    base = tempfile.mkdtemp(prefix="bw_s23_")
    watch = os.path.join(base, "src")
    target = os.path.join(base, "target")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(watch)
    os.makedirs(target)
    upsert, _read_current = _manifest_upsert_sink(
        spark, target, retain_history=True
    )
    for f in files[:-1]:
        _shutil.copy2(f, watch)

    def drain():
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(watch)
            .select("user_id", "event_type", "value")
            .writeStream.foreachBatch(upsert)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            if not q.awaitTermination(240):
                raise RuntimeError("s23 drain did not finish in 240s")
        finally:
            if q.isActive:
                q.stop()

    def snapshot_paths() -> list[str]:
        with open(os.path.join(target, "manifest.json")) as fh:
            man = _json.load(fh)
        return [os.path.join(target, v) for v in man["buckets"].values()]

    with _pinned_state_partitions(spark):
        drain()
        paths_a = snapshot_paths()  # the as-of snapshot (files 1-3)
        _shutil.copy2(files[-1], watch)  # file 4 arrives
        drain()
        paths_b = snapshot_paths()

    a = spark.read.parquet(*paths_a).select(
        "user_id", F.col("n").alias("n_a"), F.col("spend").alias("spend_a")
    )
    b = spark.read.parquet(*paths_b).select(
        "user_id", F.col("n").alias("n_b"), F.col("spend").alias("spend_b")
    )
    return (
        b.join(a, "user_id", "left")
        .where(F.col("n_a").isNull() | (F.col("n_b") != F.col("n_a")))
        .select(
            "user_id",
            F.when(F.col("n_a").isNull(), F.lit("inserted"))
            .otherwise(F.lit("updated"))
            .alias("status"),
            (F.col("n_b") - F.coalesce(F.col("n_a"), F.lit(0)))
            .cast("bigint")
            .alias("delta_n"),
            F.round(
                (
                    F.col("spend_b")
                    - F.coalesce(
                        F.col("spend_a"), F.lit(0).cast("decimal(18,2)")
                    )
                ).cast("double"),
                2,
            ).alias("delta_spend"),
            F.col("n_b").cast("bigint").alias("n_total"),
        )
    )


PR_ITERS = 5  # PageRank power iterations
PR_TOPK = 10  # ranked vertices reported
PR_UNIT = 1_000_000  # integer micro-units; DIV keeps both engines exact


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative PageRank (PR_ITERS power iterations, damping 0.85)
    over the parts-co-ordered graph, in INTEGER micro-units so every
    iteration is bit-identical across engines: contribution =
    rank DIV degree (truncating division — all values non-negative,
    so Spark's DIV and the oracle's // agree), new rank = 150000 +
    (85 × Σ contributions) DIV 100. Output: the PR_TOPK top-ranked
    parts plus the vertex total — the influence ranking a curation
    pipeline uses to find hub documents/entities in a co-occurrence
    graph (Page et al. 1999; the fixed-iteration integer form).

    Scale shape: the DEGREE-ANNOTATED directed edge list (both
    orientations of each co-order edge, out-degree folded in) is
    materialized ONCE and reused by all PR_ITERS iterations — so
    each iteration is exactly one shuffle-hash equi-join
    (edges ⋈ ranks on src — ranks is the small, per-vertex side)
    and one (dst) partial-agg shuffle; the degree join is paid once
    at build time, not per iteration. No driver-side state, no
    collect: the loop only grows the lazy plan linearly (each
    rank_i feeds exactly rank_{i+1}). The DuckDB twin is the same
    recurrence as PR_ITERS chained CTEs, generated from the same
    constants."""
    li = _t(spark, sf_dir, "lineitem")
    pp = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    und = (
        pp.alias("a")
        .join(
            pp.alias("b"),
            (F.col("a.ok") == F.col("b.ok"))
            & (F.col("a.pk") < F.col("b.pk")),
        )
        .select(F.col("a.pk").alias("u"), F.col("b.pk").alias("v"))
        .distinct()
    )
    both = und.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        und.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    deg = both.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    edges = materialize(both.join(deg, "src"), "pr_edges_deg")
    verts = edges.select("src").distinct()
    ranks = verts.select(
        F.col("src").alias("pk"), F.lit(PR_UNIT).cast("long").alias("r")
    )
    base = F.lit((15 * PR_UNIT) // 100).cast("long")
    for _ in range(PR_ITERS):
        contrib = edges.join(
            ranks.select(F.col("pk").alias("src"), "r").hint("shuffle_hash"),
            "src",
        ).select("dst", F.expr("r DIV deg").alias("c"))
        ranks = (
            contrib.groupBy(F.col("dst").alias("pk"))
            .agg(F.sum("c").alias("s"))
            .select(
                "pk",
                (base + F.expr("(85 * s) DIV 100").cast("long")).alias("r"),
            )
        )
    wtop = Window.orderBy(F.col("r").desc(), F.col("pk"))
    topk = (
        ranks.withColumn("rk", F.row_number().over(wtop).cast("int"))
        .filter(F.col("rk") <= PR_TOPK)
        .select(
            F.lit("vertex").alias("kind"),
            "pk",
            F.col("r").cast("long").alias("rank_micro"),
            "rk",
        )
    )
    total = verts.agg(F.count(F.lit(1)).alias("c")).select(
        F.lit("vertices").alias("kind"),
        F.lit(-1).cast("long").alias("pk"),
        F.col("c").cast("long").alias("rank_micro"),
        F.lit(0).cast("int").alias("rk"),
    )
    return topk.unionAll(total)


EDGE_TOPK = 20  # strongest edges reported


KCORE_ROUNDS = 5  # peeling rounds; row r==r-1 in the output = converged


def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling over the parts-co-order graph (Seidman 1983; the
    iterative-delete formulation): repeatedly drop vertices with
    degree < k and re-count until the core stabilizes. k is DATA-
    ADAPTIVE -- the exact median degree via integer rank selection
    (the fixed-k form is degenerate here: the co-order graph's min
    degree is 42 at sf0.01, so any small constant peels nothing at
    any scale). Output: one row per round with the surviving vertex
    and directed-edge counts -- equal consecutive rows certify
    convergence in-band.

    Scale shape: the directed edge list materializes ONCE; peeling is
    monotone (alive_{r+1} is a subset of alive_r), so round r's edge
    set is e0 semi-joined against the LATEST alive set directly --
    only the tiny per-VERTEX alive/degree tables materialize per
    round (broadcast into the next round's two semi-joins), never a
    per-round edge copy. Each round is one partial-agg shuffle over
    the filtered edges; n_edges falls out of the same degree table
    as its sum, so no separate edge-count branch exists. The k
    rank-selection sorts only the vertex degree table (<< edges)."""
    li = _t(spark, sf_dir, "lineitem")
    pp = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    und = (
        pp.alias("a")
        .join(
            pp.alias("b"),
            (F.col("a.ok") == F.col("b.ok"))
            & (F.col("a.pk") < F.col("b.pk")),
        )
        .select(F.col("a.pk").alias("u"), F.col("b.pk").alias("v"))
        .distinct()
    )
    # localCheckpoint per round, not materialize(): the fixpoint
    # pattern from near_dup_clusters -- persist alone leaves each
    # round's LOGICAL plan containing the whole history, and driver-
    # side re-analysis of the deepening tree grew measurably per round
    # (deg5 took 24.8 s on 0 rows); checkpointing cuts lineage flat.
    e0 = (
        und.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionAll(und.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        .localCheckpoint(eager=True)
    )
    deg = (
        e0.groupBy("src")
        .agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint(eager=True)
    )
    wr = Window.orderBy("d")
    kdf = (
        deg.select(
            "d",
            F.row_number().over(wr).alias("__rn"),
            F.count(F.lit(1)).over(
                Window.partitionBy(F.lit(1))
            ).alias("__n"),
        )
        .where(F.expr("__rn = (__n + 1) DIV 2"))
        .select(F.col("d").cast("bigint").alias("k"))
        .localCheckpoint(eager=True)
    )
    stats = []
    for r in range(1, KCORE_ROUNDS + 1):
        alive = (
            deg.crossJoin(F.broadcast(kdf))
            .where(F.col("d") >= F.col("k"))
            .select(F.col("src").alias("id"))
            .localCheckpoint(eager=True)
        )
        # Next round's degrees over e0 semi-joined to alive (monotone
        # peeling makes the direct filter exact); sum(d) doubles as
        # THIS round's edge count -- no separate edge-count branch.
        deg = (
            e0.join(
                F.broadcast(alive.select(F.col("id").alias("src"))),
                "src",
            )
            .join(
                F.broadcast(alive.select(F.col("id").alias("dst"))),
                "dst",
            )
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("d"))
            .localCheckpoint(eager=True)
        )
        stats.append(
            alive.agg(F.count(F.lit(1)).cast("bigint").alias("n_alive"))
            .crossJoin(
                F.broadcast(
                    deg.agg(
                        F.coalesce(F.sum("d"), F.lit(0))
                        .cast("bigint")
                        .alias("n_edges")
                    )
                )
            )
            .crossJoin(F.broadcast(kdf))
            .select(
                F.lit(r).cast("bigint").alias("round"),
                "k",
                "n_alive",
                "n_edges",
            )
        )
    out = stats[0]
    for s in stats[1:]:
        out = out.unionAll(s)
    return out


def q_graph_edge_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge embeddedness / tie strength: for every co-order edge, the
    number of triangles through it (= common neighbors of its
    endpoints) and the neighbor-set Jaccard in integer ppm — the
    Granovetter tie-strength signal a curation pipeline uses to
    separate tightly-embedded boilerplate clusters from bridge
    edges. Reports the EDGE_TOPK strongest edges.

    Spark-first shape: the ALL-PAIRS common-neighbor join is
    Σ C(deg(z),2) wedges (~71M here, 4× the triangle count's
    oriented fan-out) — deliberately avoided. Per-EDGE common
    neighbors come free from the degree-ordered triangle enumeration
    (`_co_order_triangles`): each triangle contributes its three
    canonical edges to one (u, v) count aggregate, so the extra cost
    over counting triangles is one explode + one keyed shuffle of
    triangle rows. Jaccard denominators come from the degree table:
    |N(u)∪N(v)| = du + dv − 2 − common (endpoints excluded). All
    integer; the DuckDB twin enumerates id-ordered triangles, whose
    edge multiset is orientation-invariant."""
    _pp, _e, deg, tri = _co_order_triangles(spark, sf_dir)
    pairs = (
        tri.select(
            F.explode(
                F.array(
                    F.struct(
                        F.least("a", "b").alias("u"),
                        F.greatest("a", "b").alias("v"),
                    ),
                    F.struct(
                        F.least("a", "c").alias("u"),
                        F.greatest("a", "c").alias("v"),
                    ),
                    F.struct(
                        F.col("b").alias("u"), F.col("c").alias("v")
                    ),
                )
            ).alias("p")
        )
        .select("p.u", "p.v")
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    scored = (
        pairs.join(
            deg.select(F.col("x").alias("u"), F.col("d").alias("du")), "u"
        )
        .join(deg.select(F.col("x").alias("v"), F.col("d").alias("dv")), "v")
        .select(
            "u",
            "v",
            F.col("common").cast("long").alias("common"),
            F.col("du").cast("long").alias("du"),
            F.col("dv").cast("long").alias("dv"),
            # widen the ppm numerator: 1e6·common wraps BIGINT once an
            # edge has >9.2e12 common neighbors; DECIMAL(38,0) holds
            # the product exactly at any BIGINT count (≤9.2e24 ≪ 1e38)
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0)) * common)"
                " DIV (du + dv - 2 - common) AS BIGINT)"
            ).alias("jacc_ppm"),
        )
    )
    wtop = Window.orderBy(F.col("jacc_ppm").desc(), F.col("u"), F.col("v"))
    return (
        scored.withColumn("rk", F.row_number().over(wtop).cast("int"))
        .filter(F.col("rk") <= EDGE_TOPK)
    )


def q_sketch_hll_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-set INTERSECTION estimate from mergeable HLL sketches
    via inclusion-exclusion — |purchasers ∩ clickers| ≈ |A|+|B|-|A∪B|
    where all three cardinalities come from the portable integer-
    register HLL (functions/sketches.py), next to the exact
    intersection for the in-engine error audit. The union sketch
    costs nothing extra at scale: HLL registers are max-mergeable, so
    |A∪B| is estimated from the SAME pass's rows labeled into a
    third group — the composability that makes sketch-based audience
    overlap viable when A and B are 10¹⁰-row scans on different
    machines.

    Scale shape: one events scan exploded into ≤3 (set, user) label
    rows, one register aggregate (map-side partials over (set, idx)),
    a 3-row pivot; the exact twin is one distinct aggregate."""
    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "purchase").select(
        F.lit("a").alias("s"), "user_id"
    )
    b = ev.filter(F.col("event_type") == "click").select(
        F.lit("b").alias("s"), "user_id"
    )
    labeled = a.unionAll(b).unionAll(
        a.select(F.lit("ab").alias("s"), "user_id")
    ).unionAll(b.select(F.lit("ab").alias("s"), "user_id"))
    est = K.hll_count_distinct(labeled, ["s"], "user_id", seed=HLL_SEED)
    wide = est.groupBy().pivot("s", ["a", "b", "ab"]).sum("n_hll")
    exact = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .intersect(
            ev.filter(F.col("event_type") == "click").select("user_id")
        )
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    return wide.crossJoin(F.broadcast(exact)).select(
        F.col("a").alias("n_a_hll"),
        F.col("b").alias("n_b_hll"),
        F.col("ab").alias("n_union_hll"),
        (F.col("a") + F.col("b") - F.col("ab")).alias("n_inter_hll"),
        "n_exact",
    )


KS_SAMPLE_MOD = 10  # 1-in-10 deterministic hash sample
KS_SEED = 13


def q_sample_ks_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampler drift audit, integer-exact: does the deterministic
    hash-Bernoulli sample actually follow the full distribution? Per
    quantity bucket, the full vs sampled counts and the CUMULATIVE
    distribution gap in parts-per-million — the Kolmogorov-Smirnov
    statistic is the max of dev_ppm, computable from the returned
    rows. This is the QA gate a training-mix pipeline runs before
    trusting a sample for loss-weighted curation decisions.

    Scale shape: ONE fact scan producing (bucket, is_sampled) →
    one ~50-group conditional aggregate with map-side partials; the
    cumulative windows run over the 50 GROUP rows, never fact rows.
    All ratios are integer ppm by truncating division — engine-exact,
    no float CDF anywhere."""
    li = _t(spark, sf_dir, "lineitem")
    key = F.concat(
        F.col("l_orderkey").cast("string"),
        F.lit("-"),
        F.col("l_linenumber").cast("string"),
    )
    sampled = (H.portable_hash(key, seed=KS_SEED) % KS_SAMPLE_MOD) == 0
    per = (
        li.select(
            F.col("l_quantity").cast("long").alias("qty"),
            sampled.cast("long").alias("s"),
        )
        .groupBy("qty")
        .agg(
            F.count(F.lit(1)).alias("n_full"),
            F.sum("s").alias("n_samp"),
        )
    )
    cum = Window.orderBy("qty").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cf = F.sum("n_full").over(cum)
    cs = F.sum("n_samp").over(cum)
    tf = F.sum("n_full").over(tot)
    ts = F.sum("n_samp").over(tot)
    out = per.select(
        "qty",
        "n_full",
        F.col("n_samp").cast("long").alias("n_samp"),
        # DECIMAL(38,0) before the ·1e6 multiply: cf is a cumulative
        # FACT-ROW count, which crosses 9.2e12 at ~sf1500 and the
        # BIGINT product wraps silently (r9 overflow sweep).
        (cf * F.lit(1000000).cast("decimal(38,0)")).alias("__cfm"),
        tf.alias("__tf"),
        (cs * F.lit(1000000).cast("decimal(38,0)")).alias("__csm"),
        ts.alias("__ts"),
    ).select(
        "qty",
        "n_full",
        "n_samp",
        F.expr("CAST(__cfm DIV __tf AS BIGINT)").alias("cum_full_ppm"),
        F.expr("CAST(__csm DIV __ts AS BIGINT)").alias("cum_samp_ppm"),
    )
    return out.withColumn(
        "dev_ppm",
        F.abs(F.col("cum_full_ppm") - F.col("cum_samp_ppm")).cast("long"),
    )


FILTER_MIN_WORDS = 20  # corpus-filter floor
FILTER_HARD_SYL = 170  # readability ceiling (syl per 100 words)
FILTER_TTR_PCT = 30  # type-token floor, percent


def q_pipeline_filter_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus filter report — the 'why was my document dropped'
    table: per language, how many documents each quality gate
    rejects (too short / too hard by the readability proxy / low
    lexical diversity) and how many survive all three. Flags are
    INDEPENDENT (a doc can trip several), so the report decomposes
    the kept-rate by cause instead of hiding overlaps behind a
    first-match rule.

    Scale shape: every flag is a per-row codegen expression (split /
    regexp count / array_distinct — no explode, no token shuffle);
    the report is one ~languages-group conditional aggregate with
    map-side partials. At 100 TB this is the cheapest full-corpus
    pass in the pipeline, which is exactly what a pre-filter must
    be."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_words = F.size(toks)
    n_syll = F.size(
        F.regexp_extract_all(F.lower("text"), F.lit("[aeiouy]+"), F.lit(0))
    )
    n_distinct = F.size(F.array_distinct(toks))
    flagged = docs.select(
        "lang",
        (n_words < FILTER_MIN_WORDS).cast("int").alias("f_short"),
        (
            (n_syll * 100) >= (F.lit(FILTER_HARD_SYL) * n_words)
        )
        .cast("int")
        .alias("f_hard"),
        (
            (n_distinct * 100) < (F.lit(FILTER_TTR_PCT) * n_words)
        )
        .cast("int")
        .alias("f_lowdiv"),
    )
    kept = (
        (F.col("f_short") + F.col("f_hard") + F.col("f_lowdiv")) == 0
    ).cast("long")
    return flagged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("f_short").cast("long").alias("n_short"),
        F.sum("f_hard").cast("long").alias("n_hard"),
        F.sum("f_lowdiv").cast("long").alias("n_lowdiv"),
        F.sum(kept).alias("n_kept"),
    )


# ---------------------------------------------------------------------------
# Round 8: interval-overlap join (binned, count-once), 2-D skyline,
# time-decay multi-touch attribution, item-item co-occurrence cosine,
# point-in-time SCD2 join, and the new streaming shapes.
# ---------------------------------------------------------------------------


IJ_BIN_DAYS = 8  # interval-join bin width (covers the 0-6 day spans)


def _ij_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared interval set for the interval-join family: 1995
    shipments, span = shipdate .. shipdate + (quantity mod 7) days,
    epoch-day ints, iid = orderkey*10 + linenumber (linenumber < 10
    in TPC-H, so the composite is collision-free)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1995-01-01")
        & (F.col("l_shipdate") < "1996-01-01")
    )
    s = F.datediff(F.to_date("l_shipdate"), F.lit("1970-01-01").cast("date"))
    return li.select(
        F.col("l_suppkey").alias("suppkey"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("iid"),
        s.alias("s"),
        (s + F.col("l_quantity").cast("int") % 7).alias("e"),
    )


def q_ij1_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL-OVERLAP JOIN, the binned form: per supplier, every
    pair of 1995 shipment intervals that overlap in time — the query
    shape behind concurrency analysis, double-booking detection, and
    temporal containment, which naive SQL writes as an inequality
    self-join (quadratic candidates).

    Scale shape: each interval explodes into the fixed-width time
    bins it covers (sequence(), ≤ ceil(span/bin)+1 rows — spans are
    bounded by construction), candidates come from a plain EQUI-join
    on (suppkey, bin) — hash-shuffle, AQE-splittable — and each
    overlapping pair is counted exactly ONCE without a pair-level
    distinct: only the bin containing the LATER start may emit the
    pair (the standard dedup-free binned interval join). At 100 TB
    the bin width is the knob: wider bins = fewer index rows, more
    verify work; the overlap verify is a codegen filter either way.
    Oracle twin is the direct inequality self-join."""
    iv = _ij_intervals(spark, sf_dir)
    binned = iv.select(
        "suppkey",
        "iid",
        "s",
        "e",
        F.explode(
            F.sequence(
                F.floor(F.col("s") / IJ_BIN_DAYS).cast("int"),
                F.floor(F.col("e") / IJ_BIN_DAYS).cast("int"),
            )
        ).alias("bin"),
    )
    a = binned.alias("a")
    b = binned.alias("b")
    ov_start = F.greatest(F.col("a.s"), F.col("b.s"))
    ov_days = (
        F.least(F.col("a.e"), F.col("b.e")) - ov_start + F.lit(1)
    ).cast("long")
    pairs = a.join(
        b,
        (F.col("a.suppkey") == F.col("b.suppkey"))
        & (F.col("a.bin") == F.col("b.bin"))
        & (F.col("a.iid") < F.col("b.iid"))
        & (F.col("a.s") <= F.col("b.e"))
        & (F.col("b.s") <= F.col("a.e"))
        # count-once: only the bin holding the later start emits
        & (F.col("a.bin") == F.floor(ov_start / IJ_BIN_DAYS).cast("int")),
    )
    return (
        pairs.groupBy(F.col("a.suppkey").alias("suppkey"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(ov_days).cast("long").alias("sum_overlap_days"),
            F.max(ov_days).cast("long").alias("max_overlap_days"),
        )
    )


def q_ij2_interval_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL-CONTAINMENT JOIN, the binned form: per supplier,
    pairs where one 1995 shipment interval FULLY CONTAINS another —
    the second predicate class the same bin index serves (overlap in
    ij1, containment here; the only changes are the verify filter and
    the count-once anchor, now the CONTAINED interval's start bin).
    Reported per container interval: how many other intervals it
    swallows and the widest span it covers — the nesting profile a
    scheduling/temporal-QA pass reads.

    Scale shape: identical to ij1 — the bin explode is bounded by the
    span cap, candidates come from the (suppkey, bin) EQUI-join, and
    each contained pair is emitted exactly once (only the bin holding
    the contained start). Strictness: proper containment — equal
    intervals are excluded by requiring a strictly larger span, so
    the relation is antisymmetric and the oracle can't double-count
    mirror pairs."""
    iv = _ij_intervals(spark, sf_dir)
    binned = iv.select(
        "suppkey",
        "iid",
        "s",
        "e",
        F.explode(
            F.sequence(
                F.floor(F.col("s") / IJ_BIN_DAYS).cast("int"),
                F.floor(F.col("e") / IJ_BIN_DAYS).cast("int"),
            )
        ).alias("bin"),
    )
    a = binned.alias("a")  # container
    b = binned.alias("b")  # contained
    pairs = a.join(
        b,
        (F.col("a.suppkey") == F.col("b.suppkey"))
        & (F.col("a.bin") == F.col("b.bin"))
        & (F.col("a.iid") != F.col("b.iid"))
        & (F.col("a.s") <= F.col("b.s"))
        & (F.col("b.e") <= F.col("a.e"))
        # proper containment: the container is strictly wider
        & (F.col("a.e") - F.col("a.s") > F.col("b.e") - F.col("b.s"))
        # count-once: only the bin holding the contained start emits
        & (F.col("b.bin") == F.floor(F.col("b.s") / IJ_BIN_DAYS).cast("int")),
    )
    return (
        pairs.groupBy(
            F.col("a.suppkey").alias("suppkey"), F.col("a.iid").alias("iid")
        )
        .agg(
            F.count(F.lit(1)).alias("n_contained"),
            F.max(F.col("b.e") - F.col("b.s")).cast("long").alias(
                "max_inner_span"
            ),
        )
    )


SKEW_TOPK = 5  # heaviest keys reported by the advisor


def q_skew_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHUFFLE-SKEW ADVISOR: the pre-flight report a 100 TB job runs
    before keying a join or aggregation on a column — for the
    heaviest keys of lineitem.l_suppkey: row share in ppm, the ratio
    to a perfectly uniform key (avg rows/key), and the salting factor
    that would level the key (ceil(count/avg), integer arithmetic).
    A top key at ~uniform share says hash partitioning is safe; a
    1000× key says salt it or let AQE split it — this query is the
    evidence either way.

    Scale shape: ONE partial-agg shuffle to per-key counts, a 1-row
    global aggregate broadcast back, and a top-k
    TakeOrderedAndProject over the (tiny) per-key table. Nothing
    touches raw rows twice."""
    li = _t(spark, sf_dir, "lineitem")
    # per-key counts feed both the report and the 1-row totals —
    # materialize the (tiny) aggregate so the corpus scans once.
    per_key = materialize(
        li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("cnt")),
        "skew_per_key",
    )
    tot = per_key.agg(
        F.sum("cnt").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
    )
    return (
        per_key.crossJoin(F.broadcast(tot))
        .select(
            F.col("l_suppkey").alias("key"),
            F.col("cnt").cast("long").alias("cnt"),
            # DECIMAL(38,0) before both products: cnt is a fact-row
            # count (6e14 at sf100k), so cnt·1e6 and cnt·n_keys both
            # blow BIGINT exactly on the skewed keys this advisor
            # exists to find (r9 overflow sweep).
            F.expr(
                "cnt * CAST(1000000 AS DECIMAL(38,0)) DIV total"
            ).alias("share_ppm"),
            # salt factor that levels this key: ceil(cnt / avg)
            F.expr(
                "CAST((CAST(cnt AS DECIMAL(38,0)) * n_keys + total - 1)"
                " DIV total AS BIGINT)"
            ).alias("salt_factor"),
        )
        .orderBy(F.desc("cnt"), "key")
        .limit(SKEW_TOPK)
    )


SKYLINE_BUCKETS = 64  # range-partition fan-out of the prefix-max merge


def q_rel_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D SKYLINE (Pareto frontier): parts not dominated on
    (retail price ↓, size ↑) — no other part is at most as expensive
    AND at least as large with one strict. The classic formulation is
    a quadratic NOT EXISTS self-join (the oracle twin keeps that as
    the independent spec); the engine computes it in O(n log n):

      1. collapse to one row per price with the group-max size
         (partial-agg shuffle);
      2. prefix max of size over strictly cheaper price groups,
         computed as a RANGE-PARTITIONED MERGE (the r8 verdict's
         watch item: the previous single global Window.orderBy was a
         one-partition sort, fine for the bounded TPC-H price domain
         but a scale-killer if the frontier dimension were unbounded):
         price groups bucket by value range (monotone, so bucket
         order == price order), each bucket computes its LOCAL
         running max in parallel, a SKYLINE_BUCKETS-row window
         produces each bucket's strictly-before carry-in, and
         prev_max = greatest(carry_in, local) — the only ordered
         window over unbounded data is now per-bucket;
      3. join back: a part is on the skyline iff no cheaper group
         reaches its size and it holds its own group's max.

    Duplicated (price, size) points co-exist on the frontier (neither
    strictly dominates), which the group-max formulation preserves."""
    p = _t(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    pg = p.groupBy("p_retailprice").agg(F.max("p_size").alias("msize"))
    bounds = pg.agg(
        F.min("p_retailprice").cast("double").alias("__lo"),
        F.max("p_retailprice").cast("double").alias("__hi"),
    )
    # monotone non-decreasing in price (IEEE subtraction/division by
    # positive constants preserve order), so bucket b's prices all
    # precede bucket b+1's — the merge below needs only that.
    bucket = F.least(
        F.lit(SKYLINE_BUCKETS - 1),
        F.floor(
            (F.col("p_retailprice").cast("double") - F.col("__lo"))
            * F.lit(float(SKYLINE_BUCKETS))
            / (F.col("__hi") - F.col("__lo") + F.lit(1e-9))
        ),
    ).cast("long")
    pgb = pg.crossJoin(F.broadcast(bounds)).withColumn(  # 1-row scalar attach
        "__b", bucket
    )
    wloc = Window.partitionBy("__b").orderBy("p_retailprice").rowsBetween(
        Window.unboundedPreceding, -1
    )
    loc = pgb.withColumn("__loc_prev", F.max("msize").over(wloc))
    wb = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    carry = (
        pgb.groupBy("__b")
        .agg(F.max("msize").alias("__bmax"))
        .withColumn("__carry_in", F.max("__bmax").over(wb))  # ≤64 rows
        .select("__b", "__carry_in")
    )
    pr = loc.join(F.broadcast(carry), "__b").withColumn(
        "prev_max", F.greatest("__carry_in", "__loc_prev")
    )
    return (
        p.join(pr, "p_retailprice")
        .filter(
            (F.col("prev_max").isNull() | (F.col("prev_max") < F.col("p_size")))
            & (F.col("msize") == F.col("p_size"))
        )
        .select("p_partkey", "p_retailprice", "p_size")
    )


DECAY_MAX_DAYS = 20  # attribution horizon; weight halves per day


def q_evt_attribution_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-DECAY MULTI-TOUCH ATTRIBUTION: every purchase credits ALL
    of the user's prior touches within a 20-day horizon, weight
    halving per elapsed day — the fractional-credit counterpart of
    evt_attribution's last-touch rule. Weights are INTEGER units
    (1 << (20 - whole_days)), so per-channel credit sums are exact
    BIGINTs — engine- and order-independent, no float accumulation.

    Scale shape: a per-user time-range self-join (purchases ×
    touches) — shuffles both sides on user_id once; the horizon
    bounds the fan-out per purchase the way a stream-stream join's
    watermark bounds state. Credit aggregation is one partial-agg
    shuffle on the ~channels key space."""
    ev = _t(spark, sf_dir, "events")
    pur = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.unix_micros("ts").alias("p_us")
    )
    touch = ev.filter(F.col("event_type") != "purchase").select(
        F.col("user_id").alias("t_user"),
        F.col("event_type").alias("channel"),
        F.unix_micros("ts").alias("t_us"),
    )
    joined = pur.join(
        touch,
        (F.col("user_id") == F.col("t_user"))
        & (F.col("t_us") <= F.col("p_us"))
        & (
            F.col("t_us")
            > F.col("p_us") - F.lit(DECAY_MAX_DAYS * 86_400_000_000)
        ),
    )
    credit = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), "
        f"CAST({DECAY_MAX_DAYS} - (p_us - t_us) DIV 86400000000 AS INT))"
    )
    return joined.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_credits"),
        # widen INSIDE the sum: credits are ≤2^20 each but the credit
        # row count is unbounded, so a BIGINT SUM wraps near 1e13
        # credits while DuckDB's integer SUM auto-widens to HUGEINT
        # (r9 overflow sweep — same class as agg_gini). The output
        # cast to BIGINT is the declared result domain, shared with
        # the oracle twin's CAST AS BIGINT.
        F.sum(credit.cast("decimal(38,0)")).cast("long").alias(
            "credit_units"
        ),
    )


REC_TOPK = 100  # item-pair recommendations reported


def q_rec_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ITEM-ITEM CO-OCCURRENCE COSINE (the collaborative-filtering
    similarity): treating each order as a basket, score part pairs by
    cosine over binary basket vectors = co_count / sqrt(deg_a·deg_b).
    Reported as exact integer ppm of cosine² (co²·1e6 DIV deg_a·deg_b)
    so ranking needs no float math — rank by cos² ≡ rank by cosine.

    Scale shape: pair generation is the within-basket self-join —
    TPC-H baskets hold ≤ 7 items, so candidates are O(rows·basket),
    LINEAR, never all-pairs; degree join inputs are part-keyed
    aggregates (broadcast-able dims at any corpus size); final top-k
    is TakeOrderedAndProject, no global sort materialization."""
    # The basket-item table feeds THREE consumers (both sides of the
    # pair join and the degree table) — materialize it once or the
    # corpus scans four times (the r8 plan audit caught 4 FileScans).
    bi = materialize(
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct(),
        "rec_bi",
    )
    deg = bi.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("deg"))
    a = bi.alias("a")
    b = bi.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("co"))
    )
    scored = (
        co.join(deg.select(F.col("l_partkey").alias("part_a"), F.col("deg").alias("deg_a")), "part_a")
        .join(deg.select(F.col("l_partkey").alias("part_b"), F.col("deg").alias("deg_b")), "part_b")
        .select(
            "part_a",
            "part_b",
            F.col("co").cast("long").alias("co"),
            # DECIMAL(38,0) before the square: co²·1e6 wraps BIGINT
            # once a pair co-occurs >3e6 times — routine for popular
            # item pairs at corpus scale (r9 overflow sweep). The
            # degree product gets the same widening. And since co²
            # alone reaches 8.5e37, the ·1e6 form can exceed even
            # 128-bit range — the r10 branch rule (same as
            # agg_hhi_concentration): exact decimal while co² < 1e32
            # (co < 1e16 — every realistic corpus), else the
            # IDENTICAL IEEE-double expression on both engines.
            F.expr(
                "CAST(CASE WHEN CAST(co AS DECIMAL(38,0)) * co"
                " < CAST(100000000000000000000000000000000"
                "        AS DECIMAL(38,0))"
                " THEN CAST(co AS DECIMAL(38,0)) * co * 1000000"
                "      DIV (CAST(deg_a AS DECIMAL(38,0)) * deg_b)"
                " ELSE CAST(floor(CAST(co AS DOUBLE)"
                "      / CAST(deg_a AS DOUBLE) * CAST(co AS DOUBLE)"
                "      / CAST(deg_b AS DOUBLE) * 1000000.0)"
                "      AS DECIMAL(38,0))"
                " END AS BIGINT)"
            ).alias("cos2_ppm"),
        )
    )
    return scored.orderBy(
        F.desc("cos2_ppm"), F.desc("co"), "part_a", "part_b"
    ).limit(REC_TOPK)


def q_ts_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALENDAR-SPINE GAP DETECTION: for each supplier, the number of
    calendar days in its own [first ship, last ship] range with NO
    shipment, plus the longest silent streak — the data-freshness /
    SLA audit every time-series warehouse runs. The spine is
    GENERATED (sequence() over the per-supplier day range, exploded),
    never stored; missing days fall out of an anti-join against the
    observed day set.

    Scale shape: per-supplier bounds come from one partial-agg
    shuffle; the spine explode is bounded by the date range (a
    generated dimension, not a corpus scan); the anti-join and streak
    window both key on supplier — one shuffle each. The longest-gap
    streak uses the classic islands trick (day − dense_rank is
    constant within a consecutive run) over MISSING days only, which
    are few; nothing quadratic anywhere."""
    li = _t(spark, sf_dir, "lineitem")
    days = li.select(
        F.col("l_suppkey").alias("suppkey"),
        F.datediff(
            F.to_date("l_shipdate"), F.lit("1970-01-01").cast("date")
        ).alias("d"),
    ).distinct()
    bounds = days.groupBy("suppkey").agg(
        F.min("d").alias("lo"), F.max("d").alias("hi")
    )
    spine = bounds.select(
        "suppkey", F.explode(F.sequence("lo", "hi")).alias("d")
    )
    missing = spine.join(days, ["suppkey", "d"], "left_anti")
    w = Window.partitionBy(
        "suppkey", F.col("d") - F.dense_rank().over(
            Window.partitionBy("suppkey").orderBy("d")
        )
    )
    streaks = missing.select(
        "suppkey", F.count(F.lit(1)).over(w).alias("run_len")
    )
    return (
        streaks.groupBy("suppkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_missing_days"),
            F.max("run_len").cast("long").alias("longest_gap"),
        )
    )


GINI_SCALE = 1_000_000  # Gini reported in integer ppm


def q_agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REVENUE-CONCENTRATION GINI per nation: how unequally order
    revenue distributes across a nation's customers — the
    inequality/concentration metric a marketplace-health or
    data-mix-balance report leads with. Exact integer formulation
    (no floats until nothing is left to round): revenue in cents,
    customers ranked ascending within nation, and
    gini_ppm = (2·Σ(rank·x) − (n+1)·Σx) · 1e6 DIV (n·Σx) — the
    closed-form rank formulation of the Lorenz area, engine-identical
    under truncating integer division.

    Scale shape: one join (orders→customer, broadcast-able dim), one
    partial-agg shuffle to per-customer cents, then the per-nation
    rank on the distributed prefix-sum core (row_number == running
    count; operators/batching.running_sums_distributed) — the 25-value
    nation domain never bounds parallelism — and a final
    ~nations-sized aggregate."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_totalprice").cast("decimal(18,2)").alias("p")
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    per_cust = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_nationkey", "c_custkey")
        .agg(
            (F.sum("p") * 100).cast("long").alias("cents")
        )
    )
    ranked = B.running_sums_distributed(
        per_cust,
        ["c_nationkey"],
        [F.col("cents").asc(), F.col("c_custkey").asc()],
        {"rk": F.lit(1).cast("long")},
    ).select("c_nationkey", "cents", "rk")
    return (
        ranked.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("cents").cast("long").alias("total_cents"),
            # DECIMAL(38,0) widening happens INSIDE every aggregate
            # (SUM(CAST(rk AS DECIMAL(38,0)) * cents), not
            # CAST(...)*SUM(rk*cents)): Σ(rank·cents) grows ~n² per
            # nation and crosses 2^63 near sf1000, where a BIGINT
            # inner sum would wrap silently in non-ANSI mode while
            # DuckDB's integer SUM auto-widens to HUGEINT. The
            # (n+1)·Σx term and the n·Σx denominator get the same
            # treatment — at sf1000 (n+1)·Σcents ≈ 5e19 also exceeds
            # BIGINT. 128-bit throughout keeps the engines
            # bit-identical under truncating division.
            # Overflow pinned by tests/test_round9_ops.py::
            # test_gini_no_bigint_overflow (products past 2^63).
            F.expr(
                f"CAST((CAST(2 AS DECIMAL(38,0))"
                f" * SUM(CAST(rk AS DECIMAL(38,0)) * cents)"
                f" - (count(*) + 1) * SUM(CAST(cents AS DECIMAL(38,0))))"
                f" * CAST({GINI_SCALE} AS DECIMAL(38,0))"
                f" DIV (count(*) * SUM(CAST(cents AS DECIMAL(38,0))))"
                f" AS BIGINT)"
            ).alias("gini_ppm"),
        )
    )


def q_cdc_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME JOIN against a versioned (SCD2) dimension: every
    purchase fact picks the profile version that was valid AT its
    event time — the warehouse query every feature-store lookup and
    Kimball dimension probe reduces to (no future leakage, no stale
    overwrite). The dimension is the user's change feed (signup/view
    events as profile updates); facts before the first version emit
    NULL attrs — a PIT join never drops facts.

    Scale shape: the naive form is an interval join fact.ts BETWEEN
    [valid_from, valid_to) (the oracle twin keeps that spec); the
    engine computes it as the as-of union + ONE keyed sort + carried
    last-version window (operators/temporal.py::asof_join) — one
    shuffle on user_id, zero joins, the same plan at any fact:dim
    ratio. Ties (a fact at exactly a version's start) take the new
    version, matching BETWEEN-inclusive-start semantics."""
    ev = _t(spark, sf_dir, "events")
    dim = ev.filter(F.col("event_type").isin("signup", "view")).select(
        "user_id",
        "ts",
        F.col("event_id").alias("dim_event_id"),
        F.col("value").alias("attr_value"),
    )
    fact = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts"
    )
    j = TM.asof_join(
        fact,
        dim,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_cols=["dim_event_id", "attr_value"],
        order_col="dim_event_id",
    )
    return j.select(
        "purchase_id",
        "user_id",
        F.col("dim_event_id_right").alias("dim_event_id"),
        F.col("attr_value_right").alias("attr_value"),
    )


def q_s27_restart_dropdup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECKPOINT-RESTART EQUIVALENCE, dropDuplicatesWithinWatermark:
    the s25 built-in state-TTL dedup killed after the first committed
    batch and resumed — its dedup state (key → first-seen event time)
    uses Spark's own streaming-dedup state format, a different store
    layout than the transformWithState path s18 already restarts. If
    resume lost state, keys seen before the kill would re-emit in the
    resumed drain and the key-set hash would gain duplicates; the
    idempotent batch-id sink absorbs the replayed in-flight batch.
    Output is the distinct key set (s25 contract), so the oracle is
    the same SELECT DISTINCT."""
    import os
    import tempfile

    watch, schema, _n = _stage_event_files(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="bw_s27_")
    sink, ckpt = os.path.join(base, "sink"), os.path.join(base, "ckpt")

    def build(files_per_trigger: int | None = 1):
        # resume lifts the 1-file cadence (s14/s33 toolkit): the
        # distinct key set is batch-packing-independent
        ev = _staged_events_stream(spark, watch, schema, files_per_trigger)
        return (
            ev.withWatermark("ts", "1 hour")
            .withColumn(
                "bucket_us",
                F.expr(
                    f"unix_micros(ts) DIV {S25_BUCKET_US} * {S25_BUCKET_US}"
                ),
            )
            .dropDuplicatesWithinWatermark(
                ["user_id", "bucket_us", "event_type"]
            )
            .select("user_id", "bucket_us", "event_type")
        )

    writer = _idempotent_parquet_writer(sink)
    with _pinned_state_partitions(spark):
        q = (
            build()
            .writeStream.foreachBatch(writer)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime=_RESTART_KILL_TRIGGER)
            .start()
        )
    _kill_mid_drain(q)
    with _pinned_state_partitions(spark):
        q2 = (
            build(files_per_trigger=None)
            .writeStream.foreachBatch(writer)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
    try:
        if not q2.awaitTermination(600):
            raise RuntimeError("s27 resume did not complete in 600s")
    finally:
        if q2.isActive:
            q2.stop()
    return spark.read.parquet(sink).select(
        "user_id", "bucket_us", "event_type"
    )


# ONE ANSI-SQL text, executed verbatim by BOTH engines (Spark via
# spark.sql over temp views, DuckDB via the oracle gate) — the
# engine-portability contract for the SQL API surface: no dialect
# functions, explicit casts where return types differ (EXTRACT,
# ROW_NUMBER), decimal-exact money sums.
ANSI_SHARED_SQL = """
    WITH rev AS (
      SELECT n.n_name AS nation,
             CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT) AS yr,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue,
             COUNT(*) AS n_orders
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name, CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT)
    )
    SELECT nation, yr, revenue, n_orders,
           CAST(ROW_NUMBER() OVER (PARTITION BY yr
                ORDER BY revenue DESC, nation) AS BIGINT) AS rk
    FROM rev
"""


def q_sql1_shared_ansi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-API SURFACE: the engine runs plain ANSI SQL over registered
    views — this query's text is BYTE-IDENTICAL to its oracle twin
    (module constant ANSI_SHARED_SQL), so the two engines execute the
    same program, not a translation. The portability rules it
    demonstrates: dialect-free functions only, explicit casts where
    default return types differ (EXTRACT year, ROW_NUMBER), and
    decimal-exact money sums. Catalyst plans it like any DataFrame
    query — broadcast dims, partial-agg shuffle, window over the
    ~nations×years rows."""
    for t in ("orders", "customer", "nation"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(ANSI_SHARED_SQL)


BUCKET_JOIN_N = 8  # bucket count for the co-located join pair


def q_pack_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUCKETED CO-LOCATED JOIN: lineitem and orders are written ONCE
    as bucketed tables hash-partitioned on the join key
    (operators/layout.py::write_bucketed), then joined WITHOUT any
    Exchange on either side — the shuffle is paid at write time and
    amortized over every downstream join on that key, which is the
    canonical 100 TB layout for a fact table many consumers join the
    same way (Hive bucketing / Iceberg bucket transforms; Spark reads
    each bucket pair co-located). The no-Exchange plan property is
    asserted in tests/test_round8_ops.py with broadcast disabled so
    the bucketed sort-merge path is the one proven; this gate entry
    proves the RESULT matches the plain join the oracle runs.

    The write is idempotent (mode=overwrite, external path under
    /tmp, table names scoped by sf tag), so re-running the query —
    including bench's repeated passes — is safe."""
    import os
    import tempfile

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = os.path.join(tempfile.gettempdir(), "bw_bucketed", tag)
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    od = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    LY.write_bucketed(
        li,
        f"bw_b_lineitem_{tag}",
        os.path.join(base, "lineitem"),
        ["l_orderkey"],
        BUCKET_JOIN_N,
    )
    LY.write_bucketed(
        od,
        f"bw_b_orders_{tag}",
        os.path.join(base, "orders"),
        ["o_orderkey"],
        BUCKET_JOIN_N,
    )
    j = spark.table(f"bw_b_lineitem_{tag}").join(
        spark.table(f"bw_b_orders_{tag}"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        _dsum("l_extendedprice").alias("sum_price"),
    )


def q_s28_restart_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KILL-AND-RESUME FOR THE BUCKETED-LAYOUT WRITE (the r8 verdict's
    item 7): pack_bucket_join's two saveAsTable writes are a torn-state
    window — a job that dies after table 1 but before table 2 must not
    leave readers a half-published layout. publish_bucketed_pair
    closes it with the s21 manifest-commit pattern: both tables write
    under version-suffixed names, then ONE atomic manifest rename
    publishes the pair. The gate drives the fault for real: attempt 1
    writes the lineitem side and raises the injected crash before the
    orders side; the query then CHECKS the manifest does not exist
    (the reader-visible catalog is untouched); attempt 2 — the resume
    — publishes a fresh version, and the returned aggregate over the
    manifest-resolved pair is hash-checked against the plain-join
    oracle. The orphaned attempt-1 staging table is present in the
    catalog throughout, proving the resume neither reads nor trips
    over it.

    Scale shape: identical to pack_bucket_join (the shuffle is paid
    at write time; the join plans with no Exchange below it) plus an
    O(1) manifest commit — the Iceberg/Delta atomic-swap idea at its
    minimum viable size."""
    import os
    import tempfile
    import uuid as _uuid

    tag = _uuid.uuid4().hex[:8]
    base = tempfile.mkdtemp(prefix="bw_s28_")
    manifest = os.path.join(base, "layout_manifest.json")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    od = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    specs = [
        (li, f"bw_s28_li_{tag}", os.path.join(base, "li"), ["l_orderkey"], BUCKET_JOIN_N),
        (od, f"bw_s28_od_{tag}", os.path.join(base, "od"), ["o_orderkey"], BUCKET_JOIN_N),
    ]
    try:
        try:
            LY.publish_bucketed_pair(specs, manifest, "v1", fail_between=True)
            raise RuntimeError("s28: injected crash did not fire")
        except LY.InjectedLayoutCrash:
            pass
        if os.path.exists(manifest):
            raise RuntimeError(
                "s28: torn layout published — manifest exists after a crash"
                " between the two bucketed writes"
            )
        # the resume: a fresh publish under a new version; the v1 orphan
        # stays in the catalog and must be ignored.
        LY.publish_bucketed_pair(specs, manifest, "v2")
        a, b = LY.read_bucketed_pair(spark, manifest)
        j = a.join(b, F.col("l_orderkey") == F.col("o_orderkey"))
        res = j.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_items"),
            _dsum("l_extendedprice").alias("sum_price"),
        )
        # Materialize (5 rows, executor-side) BEFORE the finally drops
        # the catalog tables the lazy plan would still need.
        return res.localCheckpoint(eager=True)
    finally:
        # leave nothing behind: every tagged table this run created
        # (the v1 orphan included) plus the tempdir data/manifest.
        import shutil as _shutil

        LY.drop_layout_tables(
            spark,
            [f"{s[1]}_{v}" for s in specs for v in ("v1", "v2")],
            [],
        )
        _shutil.rmtree(base, ignore_errors=True)


def q_s24_stream_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-OUTER WATERMARKED STREAM-STREAM JOIN: purchases ×
    same-user clicks in the preceding hour, emitting BOTH unmatched
    sides with NULLs once the watermark proves no partner can arrive
    — the s22 left-outer semantics plus click-side NULL emission (a
    click is provably unmatched only once the watermark passes
    c_ts + 1 h, the last purchase time that could claim it). With two
    watermarked inputs the FINAL watermark is the MIN of the two
    sides' (max event time − 1 h) — NOT max-ts-overall − 1 h; the
    first cut of this query missed exactly the max-ts click because
    the purchase side's higher max masked that. The gate therefore
    hashes rows whose non-NULL event times sit at least 3 h below
    min(max purchase ts, max click ts) — ≥ 1 h of margin under the
    true final watermark even for the click side's + 1 h eviction
    bound — so the emitted set is batch-packing independent; DuckDB
    twin is the batch FULL JOIN under the same per-side cutoffs.

    Scale shape: identical to s12/s22 — both sides shuffle on user,
    the 1 h range bound caps per-key state; full-outer adds only
    eviction-time NULL emission on both sides, no extra state."""
    import uuid as _uuid

    ev = _events_stream(spark, sf_dir)
    purchases, clicks = _purchase_click_sides(ev, purchase_user="p_user")
    joined = purchases.join(
        clicks,
        _click_window_cond(purchase_user="p_user"),
        "fullOuter",
    ).select(
        "purchase_id",
        F.coalesce(F.col("p_user"), F.col("c_user")).alias("user_id"),
        F.unix_micros("p_ts").alias("p_ts_us"),
        "click_id",
        F.unix_micros("c_ts").alias("c_ts_us"),
    )
    qname = f"s24_stream_full_outer_{_uuid.uuid4().hex[:8]}"
    # NULL rows emit only in the final no-data micro-batch (same
    # mechanism as s22) — pin the conf that enables it.
    prev_ndmb = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true"
    )
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    try:
        with _pinned_state_partitions(spark):
            q = (
                joined.writeStream.format("memory")
                .queryName(qname)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
    finally:
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", prev_ndmb
        )
    if not q.awaitTermination(240):
        q.stop()
        raise RuntimeError(f"{qname} did not drain in 240s")
    cutoff = (
        _t(spark, sf_dir, "events")
        .agg(
            (
                F.least(
                    F.max(
                        F.when(
                            F.col("event_type") == "purchase",
                            F.unix_micros("ts"),
                        )
                    ),
                    F.max(
                        F.when(
                            F.col("event_type") == "click",
                            F.unix_micros("ts"),
                        )
                    ),
                )
                - F.lit(3 * 3600 * 1000000)
            ).alias("c")
        )
        .collect()[0]["c"]  # 1-row driver literal, not a hot path
    )
    return spark.table(qname).filter(
        (F.col("p_ts_us").isNull() | (F.col("p_ts_us") <= F.lit(cutoff)))
        & (F.col("c_ts_us").isNull() | (F.col("c_ts_us") <= F.lit(cutoff)))
    )


S25_BUCKET_US = 600_000_000  # 10-min dedup buckets (< the 1 h watermark)


def q_s25_stream_dropdup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING DEDUP VIA dropDuplicatesWithinWatermark — the
    built-in state-TTL dedup API (state for a key is dropped once the
    watermark passes its event time + delay, so state is bounded
    without a TTL knob; contrast s10's hand-rolled transformWithState
    ValueState). Key = (user, 10-min bucket, type): all duplicates of
    a key are at most 10 min apart — far inside the 1 h watermark —
    so exactly one survivor per key is guaranteed regardless of batch
    packing; projecting survivors to the KEY columns makes the output
    the distinct key set, independent of which physical row survived.
    Oracle: SELECT DISTINCT of the same key.

    Scale shape: one shuffle on the dedup key; state is per live key
    and watermark-evicted — the canonical at-scale streaming dedup."""
    import uuid as _uuid

    ev = _events_stream(spark, sf_dir)
    keyed = (
        ev.withWatermark("ts", "1 hour")
        .withColumn(
            "bucket_us",
            F.expr(
                f"unix_micros(ts) DIV {S25_BUCKET_US} * {S25_BUCKET_US}"
            ),
        )
        .dropDuplicatesWithinWatermark(["user_id", "bucket_us", "event_type"])
        .select("user_id", "bucket_us", "event_type")
    )
    qname = f"s25_stream_dropdup_{_uuid.uuid4().hex[:8]}"
    with _pinned_state_partitions(spark):
        q = (
            keyed.writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
    if not q.awaitTermination(240):
        q.stop()
        raise RuntimeError(f"{qname} did not drain in 240s")
    return spark.table(qname)


def q_s26_restart_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECKPOINT-RESTART EQUIVALENCE, full-outer stream-stream join:
    the s24 join killed after the first committed batch — BOTH sides'
    join buffers plus the outer-join "emitted yet?" markers live in
    the state store — resumed, drained availableNow. The riskiest
    restart in the matrix: losing a buffer drops matches, but losing
    the emission markers DUPLICATES NULL rows on replay (an unmatched
    row emitted pre-kill must not emit again post-resume). The
    idempotent batch-id-keyed sink absorbs replayed in-flight
    batches; the s24 min-per-side-watermark cutoff makes the hashed
    set deterministic. Extends the s14–s18/s21 restart matrix to the
    outer-join state family."""
    import os
    import tempfile

    watch, schema, _n = _stage_event_files(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="bw_s26_")
    sink, ckpt = os.path.join(base, "sink"), os.path.join(base, "ckpt")

    def build(files_per_trigger: int | None = 1):
        # resume lifts the 1-file cadence (s14/s33 toolkit): the
        # min-per-side-watermark cutoff set is batch-packing-independent
        ev = _staged_events_stream(spark, watch, schema, files_per_trigger)
        purchases, clicks = _purchase_click_sides(
            ev, purchase_user="p_user"
        )
        return purchases.join(
            clicks,
            _click_window_cond(purchase_user="p_user"),
            "fullOuter",
        ).select(
            "purchase_id",
            F.coalesce(F.col("p_user"), F.col("c_user")).alias("user_id"),
            F.unix_micros("p_ts").alias("p_ts_us"),
            "click_id",
            F.unix_micros("c_ts").alias("c_ts_us"),
        )

    writer = _idempotent_parquet_writer(sink)
    prev_ndmb = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true"
    )
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    try:
        with _pinned_state_partitions(spark):
            q = (
                build()
                .writeStream.foreachBatch(writer)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(processingTime=_RESTART_KILL_TRIGGER)
                .start()
            )
        _kill_mid_drain(q)
        with _pinned_state_partitions(spark):
            q2 = (
                build(files_per_trigger=None)
                .writeStream.foreachBatch(writer)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
        try:
            if not q2.awaitTermination(600):
                raise RuntimeError("s26 resume did not complete in 600s")
        finally:
            if q2.isActive:
                q2.stop()
    finally:
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", prev_ndmb
        )
    cutoff = (
        _t(spark, sf_dir, "events")
        .agg(
            (
                F.least(
                    F.max(
                        F.when(
                            F.col("event_type") == "purchase",
                            F.unix_micros("ts"),
                        )
                    ),
                    F.max(
                        F.when(
                            F.col("event_type") == "click",
                            F.unix_micros("ts"),
                        )
                    ),
                )
                - F.lit(3 * 3600 * 1000000)
            ).alias("c")
        )
        .collect()[0]["c"]  # 1-row driver literal, not a hot path
    )
    return (
        spark.read.parquet(sink)
        .select("purchase_id", "user_id", "p_ts_us", "click_id", "c_ts_us")
        .filter(
            (F.col("p_ts_us").isNull() | (F.col("p_ts_us") <= F.lit(cutoff)))
            & (
                F.col("c_ts_us").isNull()
                | (F.col("c_ts_us") <= F.lit(cutoff))
            )
        )
    )


BFS_MAX_DEPTH = 6  # frontier rounds (bounded barriers)
BFS_SEED_MOD = 100  # seed set: graph nodes with partkey % 100 == 0
BFS_MIN_CO = 2  # edge = parts co-ordered in >= 2 distinct orders


def q_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-SOURCE BFS with bounded depth: shortest hop-distance from
    a seed set over the sparse parts-affinity graph (edge = two parts
    co-ordered in ≥ 2 distinct orders — the repeat-co-purchase filter
    keeps the graph sparse where raw co-order is near-complete). The
    reachability primitive behind blast-radius, related-items, and
    taint-propagation queries.

    Scale shape: the frontier loop — per round, ONE equi-join of the
    (small) frontier against the materialized edge list, a distinct,
    and an anti-join against visited; localCheckpoint flattens the
    plan each round so round r never replays rounds 1..r-1 (the
    dedup_clusters discipline), and rounds are CAPPED at
    BFS_MAX_DEPTH, so driver barriers are bounded. Frontiers shrink
    monotonically on sparse graphs; min-dist semantics are
    execution-order independent. Oracle: recursive CTE with UNION
    dedup + min(dist).

    The early-exit isEmpty() per round is a 1-row driver check on an
    already-checkpointed frontier, not a data collect."""
    # Both sides of the co-occurrence self-join read this table —
    # materialize it once (the rec_item_cosine discipline) or the
    # corpus scans and distinct-shuffles twice.
    bi = materialize(
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct(),
        "bfs_bi",
    )
    a = bi.alias("a")
    b = bi.alias("b")
    half = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= BFS_MIN_CO)
        .select("u", "v")
    )
    edges = materialize(
        half.unionByName(
            half.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ),
        "bfs_edges",
    )
    nodes = edges.select(F.col("u").alias("node")).distinct()
    seeds = nodes.filter(F.col("node") % BFS_SEED_MOD == 0)
    dist = seeds.withColumn("dist", F.lit(0)).localCheckpoint(eager=True)
    frontier = dist.select("node")
    for d in range(1, BFS_MAX_DEPTH + 1):
        nxt = (
            frontier.join(edges, frontier["node"] == edges["u"])
            .select(F.col("v").alias("node"))
            .distinct()
            .join(dist.select("node"), "node", "left_anti")
            .withColumn("dist", F.lit(d))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        dist = dist.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt.select("node")
    return dist.select(
        F.col("node").alias("p_partkey"), F.col("dist").cast("int").alias("dist")
    )


RRF_K = 60  # the standard reciprocal-rank-fusion damping constant


def q_sim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID RETRIEVAL FUSION (reciprocal rank fusion, Cormack et al.
    SIGIR'09): the lexical ranking (BM25 top-k per query over the
    documents corpus) and the dense ranking (exact cosine top-k of
    the query embedding over the embeddings corpus, same id space)
    are fused by rrf_ppm = Σ 1e6 DIV (K + rank) — the standard
    RAG-retrieval combiner, in exact integer arithmetic so fusion
    scores and the fused ordering are engine-identical. A doc ranked
    by only one system contributes only that term (full-outer
    semantics over the two candidate lists).

    Scale shape: the lexical side is the BM25 plan (query-term
    broadcast semi-join kills the corpus before any shuffle); the
    dense side is a broadcast-query-side cosine scan (one corpus
    pass); fusion itself joins two ≤ |queries|·k candidate lists —
    driver-trivial at any corpus size."""
    lex = q_text_bm25_topk(spark, sf_dir).select(
        "query_id", "doc_id", F.col("rank").alias("r_lex")
    )
    emb = _t(spark, sf_dir, "embeddings")
    qvecs = emb.filter(F.col("vec_id").between(1, len(BM25_QUERIES)))
    dense = S.ann_bruteforce_topk(
        emb, qvecs, "vec_id", "embedding", k=BM25_TOPK
    ).select(
        F.col("query_id").cast("int").alias("query_id"),
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("r_dense"),
    )
    fused = lex.join(dense, ["query_id", "doc_id"], "full_outer")
    rrf = F.expr(
        f"coalesce(CAST(1000000 AS BIGINT) DIV ({RRF_K} + r_lex), 0)"
        f" + coalesce(CAST(1000000 AS BIGINT) DIV ({RRF_K} + r_dense), 0)"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_ppm").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("rrf_ppm", rrf)
        .withColumn("fused_rank", F.row_number().over(w))
        .select(
            "query_id",
            "doc_id",
            F.col("r_lex").cast("int").alias("r_lex"),
            F.col("r_dense").cast("int").alias("r_dense"),
            "rrf_ppm",
            "fused_rank",
        )
    )


def _rrf_oracle() -> str:
    cos = V.cosine_similarity_sql("c.embedding", "q.embedding")
    return f"""
WITH lex AS ({_bm25_oracle()}),
qv AS (SELECT vec_id, embedding FROM embeddings
       WHERE vec_id BETWEEN 1 AND {len(BM25_QUERIES)}),
dscored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
         round({cos}, 6) AS cos_sim
  FROM embeddings c CROSS JOIN qv q
  WHERE q.vec_id <> c.vec_id
),
dense AS (
  SELECT CAST(query_id AS INT) AS query_id, doc_id, r_dense FROM (
    SELECT query_id, doc_id,
           CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cos_sim DESC, doc_id ASC) AS INT) AS r_dense
    FROM dscored
  ) WHERE r_dense <= {BM25_TOPK}
),
fused AS (
  SELECT coalesce(l.query_id, d.query_id) AS query_id,
         coalesce(l.doc_id, d.doc_id) AS doc_id,
         CAST(l.rank AS INT) AS r_lex, d.r_dense,
         coalesce(1000000 // (CAST({RRF_K} AS BIGINT) + l.rank), 0)
           + coalesce(1000000 // (CAST({RRF_K} AS BIGINT) + d.r_dense), 0)
           AS rrf_ppm
  FROM lex l FULL JOIN dense d
    ON l.query_id = d.query_id AND l.doc_id = d.doc_id
)
SELECT query_id, doc_id, r_lex, r_dense, CAST(rrf_ppm AS BIGINT) AS rrf_ppm,
       CAST(row_number() OVER (PARTITION BY query_id
         ORDER BY rrf_ppm DESC, doc_id ASC) AS INT) AS fused_rank
FROM fused
"""


CMS_DEPTH = 4  # count-min hash rows
CMS_WIDTH = 256  # buckets per row
CMS_SEEDS = (101, 202, 303, 404)
CMS_TOPK = 10  # heavy hitters reported


def q_sketch_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT-MIN SKETCH heavy hitters (Cormode & Muthukrishnan '05):
    the streaming-frequency sketch every ingest monitor runs — d=4
    hash rows × w=256 counters over lineitem.l_suppkey, point
    estimate = min over rows of the key's counter. The gate reports
    the top-k TRUE-count keys with their CMS estimates: est ≥ true
    ALWAYS (one-sided error, the sketch's defining guarantee — the
    selfcheck hash proves the engines agree on the exact estimate,
    and est < true would be an implementation bug).

    Scale shape: CMS is ADDITIVE, so the sketch is built from the
    per-key partial-agg counts, not from raw rows — one shuffle on
    the key (whose cardinality is the small one), then a
    d×w-cell aggregate that broadcast-joins back to the top-k keys.
    Raw rows are scanned exactly once."""
    li = _t(spark, sf_dir, "lineitem")
    per_key = materialize(
        li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("cnt")),
        "cms_per_key",
    )
    keyed = per_key.select(
        F.col("l_suppkey").alias("key"),
        "cnt",
        *[
            (
                H.portable_hash(
                    F.col("l_suppkey").cast("string"), seed=s
                )
                % CMS_WIDTH
            ).alias(f"b{d}")
            for d, s in enumerate(CMS_SEEDS)
        ],
    )
    # the sketch: one counter table per hash row, built by re-keying
    # the per-key counts (additivity makes this identical to row-wise
    # updates); each is ≤ CMS_WIDTH cells.
    ests = None
    top = keyed.orderBy(F.desc("cnt"), "key").limit(CMS_TOPK)
    for d in range(CMS_DEPTH):
        cells = keyed.groupBy(f"b{d}").agg(
            F.sum("cnt").alias(f"c{d}")
        )
        top = top.join(F.broadcast(cells), f"b{d}")
        e = F.col(f"c{d}")
        ests = e if ests is None else F.least(ests, e)
    return top.select(
        "key",
        F.col("cnt").cast("long").alias("true_cnt"),
        ests.cast("long").alias("cms_est"),
    ).orderBy(F.desc("true_cnt"), "key")


def _cms_hh_oracle() -> str:
    bexprs = [
        f"{H.portable_hash_sql('CAST(l_suppkey AS VARCHAR)', seed=s)}"
        f" % {CMS_WIDTH} AS b{d}"
        for d, s in enumerate(CMS_SEEDS)
    ]
    cell_ctes = ", ".join(
        f"cells{d} AS (SELECT b{d}, SUM(cnt) AS c{d} FROM keyed"
        f" GROUP BY b{d})"
        for d in range(CMS_DEPTH)
    )
    joins = " ".join(
        f"JOIN cells{d} USING (b{d})" for d in range(CMS_DEPTH)
    )
    least = "least(" + ", ".join(f"c{d}" for d in range(CMS_DEPTH)) + ")"
    return f"""
WITH per_key AS (
  SELECT l_suppkey, count(*) AS cnt FROM lineitem GROUP BY l_suppkey
), keyed AS (
  SELECT l_suppkey AS key, cnt, {', '.join(bexprs)} FROM per_key
), {cell_ctes},
top AS (
  SELECT * FROM keyed ORDER BY cnt DESC, key LIMIT {CMS_TOPK}
)
SELECT key, CAST(cnt AS BIGINT) AS true_cnt,
       CAST({least} AS BIGINT) AS cms_est
FROM top {joins}
ORDER BY true_cnt DESC, key
"""


ASSOC_MIN_CO = 3  # minimum pair co-occurrence (support floor)
ASSOC_TOPK = 50  # rules reported


def q_rec_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASSOCIATION RULES over order baskets (the Apriori/FP-growth
    output surface): for part pairs co-occurring ≥ ASSOC_MIN_CO
    times, both directed rules A→B with exact integer-ppm support
    (co/n_baskets), confidence (co/deg_A), and lift
    (co·n_baskets / (deg_A·deg_B)) — the market-basket triple every
    recommender-feature pipeline derives. Top-k by (lift desc,
    antecedent, consequent).

    Scale shape: the pair generator is rec_item_cosine's
    within-basket self-join (baskets ≤ 7 items in TPC-H → linear in
    rows, never all-pairs); degrees and the basket count are
    broadcast-sized aggregates; every ratio widens to DECIMAL(38,0)
    BEFORE multiplying (the r9 overflow-sweep rule — co·n_baskets is
    a fact-count product that wraps BIGINT at corpus scale)."""
    bi = materialize(
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct(),
        "assoc_bi",
    )
    n_baskets = bi.agg(
        F.countDistinct("l_orderkey").cast("long").alias("nb")
    )
    deg = bi.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("deg"))
    a, b = bi.alias("a"), bi.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"),
            F.col("b.l_partkey").alias("pb"),
        )
        .agg(F.count(F.lit(1)).alias("co"))
        .filter(F.col("co") >= ASSOC_MIN_CO)
    )
    # both rule directions from the one undirected pair table
    directed = co.select(
        F.col("pa").alias("ante"), F.col("pb").alias("cons"), "co"
    ).unionByName(
        co.select(
            F.col("pb").alias("ante"), F.col("pa").alias("cons"), "co"
        )
    )
    scored = (
        directed.join(
            deg.select(
                F.col("l_partkey").alias("ante"),
                F.col("deg").alias("deg_a"),
            ),
            "ante",
        )
        .join(
            deg.select(
                F.col("l_partkey").alias("cons"),
                F.col("deg").alias("deg_c"),
            ),
            "cons",
        )
        .crossJoin(F.broadcast(n_baskets))  # 1-row scalar attach
        .select(
            "ante",
            "cons",
            F.col("co").cast("long").alias("co"),
            F.expr(
                "CAST(co AS DECIMAL(38,0)) * 1000000 DIV nb"
            ).cast("long").alias("support_ppm"),
            F.expr(
                "CAST(co AS DECIMAL(38,0)) * 1000000 DIV deg_a"
            ).cast("long").alias("confidence_ppm"),
            # Three BIGINT factors: co·nb alone reaches 8.5e37, so the
            # ·1e6 form can exceed even DECIMAL(38,0)/HUGEINT range —
            # the r10 branch rule (same as agg_hhi_concentration):
            # exact decimal while co·nb < 1e32 (every realistic corpus;
            # co·nb ≥ 1e32 needs ≥1e16 baskets), else the IDENTICAL
            # IEEE-double expression on both engines (±1 ppm, byte-
            # identical because both run the same ops in the same
            # order). The guard product co·nb ≤ 8.5e37 always fits.
            F.expr(
                "CAST(CASE WHEN CAST(co AS DECIMAL(38,0)) * nb"
                " < CAST(100000000000000000000000000000000"
                "        AS DECIMAL(38,0))"
                " THEN CAST(co AS DECIMAL(38,0)) * nb * 1000000"
                "      DIV (CAST(deg_a AS DECIMAL(38,0)) * deg_c)"
                " ELSE CAST(floor(CAST(co AS DOUBLE)"
                "      / CAST(deg_a AS DOUBLE) / CAST(deg_c AS DOUBLE)"
                "      * CAST(nb AS DOUBLE) * 1000000.0)"
                "      AS DECIMAL(38,0))"
                " END AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )
    return scored.orderBy(
        F.desc("lift_ppm"), "ante", "cons"
    ).limit(ASSOC_TOPK)


VOTE_ITEM_MOD = 101  # items in the synthetic labeling task


def q_agg_majority_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAJORITY-VOTE LABEL AGGREGATION (the crowd/ensemble label
    resolver of a labeled-data curation pipeline): events play votes
    — item = event_id % VOTE_ITEM_MOD, label = event_type; per item
    the winning label (most votes, ties to the lexicographically
    smallest label), its vote count, the total, and the agreement
    rate in integer ppm — the per-item QA signal that decides
    whether an item needs re-labeling.

    Scale shape: one partial-agg shuffle to (item, label) counts, a
    per-item arg-max window over ≤ |labels| rows per item, one final
    projection. Raw votes never shuffle twice."""
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy(
        (F.col("event_id") % VOTE_ITEM_MOD).cast("long").alias("item"),
        F.col("event_type").alias("label"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("item").orderBy(
        F.col("n").desc(), F.col("label").asc()
    )
    wt = Window.partitionBy("item")
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .withColumn("total", F.sum("n").over(wt))
        .filter(F.col("rk") == 1)
        .select(
            "item",
            F.col("label").alias("majority_label"),
            F.col("n").cast("long").alias("n_votes"),
            F.col("total").cast("long").alias("n_total"),
            F.expr(
                "CAST(n * CAST(1000000 AS DECIMAL(38,0)) DIV total"
                " AS BIGINT)"
            ).alias("agree_ppm"),
        )
    )


EWMA_HORIZON = 20  # most-recent events contributing; weight halves/step


def q_evt_ewma_dyadic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT EWMA USER FEATURES: per user, the exponentially-decayed
    recent-activity value — each of the EWMA_HORIZON most recent
    events contributes value·2^(H−age) integer units (age 1 = most
    recent), i.e. the weight halves per step back in time. The
    feature-store recency feature computed in EXACT integer
    arithmetic: dyadic weights on integer cents, so no float
    accumulation order can perturb it (the evt_attribution_decay
    trick applied to per-user recency rank instead of wall-clock
    days).

    Scale shape: ONE window pass per user (the same single sort a
    sessionization pays) + one partial-agg shuffle; the sum widens
    to DECIMAL(38,0) inside the aggregate (credits are ≤2^20·cents
    each but the count is unbounded — r9 overflow-sweep rule)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    recent = (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            (F.col("value").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
        .withColumn("age", F.row_number().over(w))
        .filter(F.col("age") <= EWMA_HORIZON)
    )
    unit = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), {EWMA_HORIZON} - age) * cents"
    )
    return recent.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_recent"),
        F.max(F.when(F.col("age") == 1, F.col("cents")))
        .cast("long")
        .alias("latest_cents"),
        F.sum(unit.cast("decimal(38,0)")).cast("long").alias("ewma_units"),
    )


RESIZE_TARGET = 224  # letterbox side for the resize planner


def q_multimodal_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-path RESIZE plumbing, oracle-checked (completes the
    decode / feature-extract / frame-sample / RESIZE quartet): source
    dimensions derive deterministically from doc_id (the corpus
    carries no real image headers — same stand-in trick as
    frame_plan's byte_len duration), then
    operators/multimodal.py::resize_plan computes the
    aspect-preserving fit into a 224×224 letterbox in EXACT integer
    arithmetic: long side pins to the target, short side scales by
    truncating division, padding is the leftover box.

    Scale shape: metadata-only codegen projection — the planner never
    touches pixel bytes, so a 100 TB image table plans every resize
    from its (w, h) columns in one scan with zero Python."""
    from broadway_spark.operators import multimodal as MM

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.lit(16) + F.col("doc_id") % 512).cast("int").alias("src_w"),
        (F.lit(16) + (F.col("doc_id") * 7) % 512).cast("int").alias("src_h"),
    )
    planned = MM.resize_plan(docs, "src_w", "src_h", target=RESIZE_TARGET)
    return planned.select(
        "doc_id", "src_w", "src_h", "out_w", "out_h", "pad_x", "pad_y"
    )


def q_pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATASET CARD generator — the one-row-per-source summary a
    training-data release ships: documents, exact token total, mean
    quality in integer micro-units, distinct predicted languages,
    distinct exact-dup fingerprints, and the duplication rate in ppm
    (docs − distinct fingerprints over docs). The composite reads the
    corpus ONCE: every per-doc signal (tokens, quality, language,
    fingerprint) is a codegen projection feeding a single partial-agg
    shuffle on source.

    Scale shape: one scan + one exchange carrying per-source partials
    (count/sum/distinct-sketch inputs); the distinct counts shuffle
    digests and 2-char language codes, never text."""
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "source",
        T.token_count("text").alias("n_tokens"),
        T.quality_ppm("text").alias("q_micro"),
        T.language_id("text").alias("lang_pred"),
        H.fingerprint("text").alias("fp"),
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        # widen INSIDE the sum: q_micro ≤ 1e6/doc, so a BIGINT sum
        # wraps past ~9.2e12 docs (r9 overflow-sweep rule; the review
        # pass caught this one slipping in unwidened).
        F.expr(
            "CAST(SUM(CAST(q_micro AS DECIMAL(38,0))) DIV count(*)"
            " AS BIGINT)"
        ).alias("mean_quality_micro"),
        F.countDistinct("lang_pred").cast("long").alias("n_langs"),
        F.countDistinct("fp").cast("long").alias("n_unique"),
        F.expr(
            "CAST((count(*) - count(DISTINCT fp))"
            " * CAST(1000000 AS DECIMAL(38,0)) DIV count(*) AS BIGINT)"
        ).alias("dup_ppm"),
    )


def q_agg_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HERFINDAHL–HIRSCHMAN concentration INDEX per nation: Σ share²
    over each nation's customers, shares of order revenue — the
    market-concentration metric next to agg_gini's inequality metric
    (HHI weights the head; Gini the whole Lorenz curve). Exact
    integer formulation: hhi_ppm = Σ(cents_i²)·1e6 DIV (Σcents)² —
    and BOTH quadratics widen to DECIMAL(38,0) INSIDE the aggregate
    (cents² ≈ 2e16 per customer sums past 2^63 at ~6e5 customers, and
    (Σcents)² always crosses it — the r9 overflow-sweep rule applied
    from birth, with the DuckDB twin on HUGEINT). One step further
    than gini: Σc²·1e6 itself can exceed even 128-bit range (the
    overflow TEST found this — Σc² reaches ~8.5e37 since Σc is
    BIGINT-bounded), so the formula BRANCHES: the exact ·1e6 form
    while Σc² < 1e32 (always true for realistic money domains), else
    the IDENTICAL IEEE-double expression floor(S2/T/T·1e6) on both
    engines (Spark's DIV returns BIGINT, so a pre-scaled integer
    intermediate would itself overflow — measured) — ±1 ppm of exact
    and byte-identical across engines because both run the same CASE
    with the same op order.

    Scale shape: one broadcast-able dim join, one partial-agg shuffle
    to per-customer cents, one ~nations-sized aggregate. No window at
    all (unlike gini's rank) — HHI is order-free."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_totalprice").cast("decimal(18,2)").alias("p")
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    per_cust = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_nationkey", "c_custkey")
        .agg((F.sum("p") * 100).cast("long").alias("cents"))
    )
    return per_cust.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("cents").cast("long").alias("total_cents"),
        F.expr(
            "CAST(CASE WHEN SUM(CAST(cents AS DECIMAL(38,0)) * cents)"
            " < CAST(100000000000000000000000000000000 AS DECIMAL(38,0))"
            " THEN SUM(CAST(cents AS DECIMAL(38,0)) * cents)"
            "      * CAST(1000000 AS DECIMAL(38,0))"
            "      DIV (SUM(CAST(cents AS DECIMAL(38,0)))"
            "           * SUM(CAST(cents AS DECIMAL(38,0))))"
            " ELSE CAST(floor("
            "      CAST(SUM(CAST(cents AS DECIMAL(38,0)) * cents)"
            "           AS DOUBLE)"
            "      / CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS DOUBLE)"
            "      / CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS DOUBLE)"
            "      * 1000000.0) AS DECIMAL(38,0))"
            " END AS BIGINT)"
        ).alias("hhi_ppm"),
    )


def q_edge_skew_constant_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOTAL SKEW through the salted aggregate: every row collapses
    onto ONE key (the degenerate 100%-hot-key distribution the salting
    operator exists for) — the two-phase salted plan must still give
    exactly the plain global aggregate while its first shuffle spreads
    the single key over all salt_n reducers. The skew counterpart of
    the text family's all-identical corpus."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "k", F.lit("the_only_key")
    ).withColumn("__v", F.col("value").cast("decimal(18,2)"))
    out = SK.salted_aggregate(
        ev,
        ["k"],
        {
            "n": (F.count(F.lit(1)), F.sum("n")),
            "sum_value": (F.sum("__v"), F.sum("sum_value")),
            "min_id": (F.min("event_id"), F.min("min_id")),
            "max_id": (F.max("event_id"), F.max("max_id")),
        },
        salt_n=16,
        salt_from=["event_id"],
    )
    return out.select(
        "k",
        F.col("n").cast("long").alias("n"),
        F.col("sum_value").cast("double").alias("sum_value"),
        "min_id",
        "max_id",
    )


# --- r9 adversarial-input edge family -------------------------------------
# Degenerate corpora (empty strings, whitespace-only, single-token docs,
# all-identical texts, 0/1-byte media) as ORACLE-CHECKED gate rows, not
# just property tests — the r5 NULL-sentinel fix for ≤10-token docs
# showed this input class bites silently. Inputs are DERIVED from the
# driver's documents table by a deterministic doc_id-keyed CASE, so the
# DuckDB twin applies the byte-identical derivation and every divergence
# in empty/short-input semantics between the engines becomes a hash
# mismatch.

EDGE_CONST_TEXT = "the the the"  # the all-identical corpus text


def _edge_text(doc_id_col: str = "doc_id", text_col: str = "text"):
    """doc_id%5-keyed degenerate derivation (engine side)."""
    m = F.col(doc_id_col) % 5
    return (
        F.when(m == 0, F.lit(""))  # empty string
        .when(  # single whitespace token
            m == 1, F.element_at(F.split(F.col(text_col), " "), 1)
        )
        .when(m == 2, F.lit("   "))  # whitespace-only
        .when(m == 3, F.lit(EDGE_CONST_TEXT))  # all-identical
        .otherwise(F.col(text_col))  # unchanged control
    )


def _edge_text_sql(text_expr: str = "text") -> str:
    """The byte-identical derivation for the DuckDB twin."""
    return (
        "CASE WHEN doc_id % 5 = 0 THEN ''"
        f" WHEN doc_id % 5 = 1 THEN string_split({text_expr}, ' ')[1]"
        " WHEN doc_id % 5 = 2 THEN '   '"
        f" WHEN doc_id % 5 = 3 THEN '{EDGE_CONST_TEXT}'"
        f" ELSE {text_expr} END"
    )


def q_edge_text_degenerate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-analysis functions over the degenerate corpus: per
    derivation bucket, token counts (whitespace + BPE-ish), the
    distinct fingerprint count (whitespace-only must COLLIDE with
    empty after normalization), and token-count extrema. Pins the
    empty-string semantics of split/regexp/fingerprint to the oracle
    — exactly where engines love to differ ([''] vs [])."""
    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        (F.col("doc_id") % 5).cast("long").alias("bucket"),
        _edge_text().alias("text"),
    )
    return d.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(T.token_count("text")).cast("long").alias("sum_tokens"),
        F.sum(T.bpe_ish_token_count("text")).cast("long").alias("sum_bpe"),
        F.countDistinct(H.fingerprint("text")).alias("n_fingerprints"),
        F.min(T.token_count("text")).cast("long").alias("min_tokens"),
        F.max(T.token_count("text")).cast("long").alias("max_tokens"),
    )


def q_edge_dedup_identical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on the two-value corpus (every doc is either the
    constant text or empty): the keeper aggregate must collapse the
    whole table to exactly two groups with min-id keepers — the
    worst-case duplication ratio, where any per-group work that is
    accidentally quadratic explodes. One hash-aggregate, map-side
    partials carry (text → min_id, count)."""
    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, F.lit(EDGE_CONST_TEXT))
        .otherwise(F.lit(""))
        .alias("text"),
    )
    return D.exact_dedup_stats(d, ["text"], "doc_id").select(
        "text", "keeper_id", "n_copies"
    )


def q_edge_winnow_short(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints over the degenerate corpus — documents
    far shorter than the k-gram/window sizes (empty, whitespace-only,
    single-token). The ≤k-token path must yield exactly one partial
    shingle per doc (never an empty array, never NULL) so no document
    silently drops out of the partial-copy index; the r5
    NULL-sentinel bug lived on this path."""
    docs = _t(spark, sf_dir, "documents")
    d = docs.select("doc_id", _edge_text().alias("text")).where(
        F.col("doc_id") % 5 != 4  # degenerate rows only
    )
    return d.select(
        "doc_id", F.explode(T.winnow_fingerprints("text")).alias("fp")
    )


def q_edge_zero_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN over a corpus with ZERO-NORM embeddings (every vec_id ≡ 0
    mod 3 is zeroed, including query 0 and 3): the cosine guard must
    emit similarity 0.0 — never NaN/Inf or a dropped row — for both
    zero queries and zero corpus vectors, and the (cos desc, id asc)
    tie-break must keep the fully-tied top-k deterministic. The
    degenerate-input twin of sim_ann_bruteforce (division-by-zero is
    the embedding pipeline's empty-string)."""
    emb = _t(spark, sf_dir, "embeddings")
    derived = emb.select(
        "vec_id",
        F.expr(
            "CASE WHEN vec_id % 3 = 0"
            " THEN transform(embedding, x -> CAST(0.0 AS FLOAT))"
            " ELSE embedding END"
        ).alias("embedding"),
    )
    qs = derived.filter(F.col("vec_id") < ANN_NQUERY)
    return S.ann_bruteforce_topk(
        derived, qs, "vec_id", "embedding", k=ANN_K
    )


def q_edge_json_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MALFORMED JSON through the transformer path: the events props
    column is corrupted per event_id class — empty string, truncated
    object ('{' and the props with its last char cut), bare 'null',
    whitespace — and $.k is extracted with the engine's lenient
    parser. The contract pinned to the oracle: every malformed class
    yields NULL (never a crash, never a partial parse that invents a
    value), and the intact class parses exactly; the DuckDB twin is
    json_valid-guarded json_extract_string, verified case-aligned
    with Spark's get_json_object across 9 degenerate probes before
    this query was added. Per class: rows, parsed count, distinct
    parsed values."""
    ev = _t(spark, sf_dir, "events")
    m = F.col("event_id") % 6
    corrupted = (
        F.when(m == 0, F.lit(""))
        .when(m == 1, F.lit("{"))
        .when(m == 2, F.expr("substring(props, 1, length(props) - 1)"))
        .when(m == 3, F.lit("null"))
        .when(m == 4, F.lit("   "))
        .otherwise(F.col("props"))
    )
    d = ev.select(
        m.cast("long").alias("bucket"),
        F.get_json_object(corrupted, "$.k").alias("v"),
    )
    return d.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("v").alias("n_parsed"),
        F.countDistinct("v").cast("long").alias("n_distinct"),
    )


def q_edge_media_1byte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal envelope + featurizer over 0- and 1-byte payloads
    (content = first character of the text, utf-8 encoded; empty
    texts give 0-byte media). The Arrow-batched stub featurizer must
    produce its md5-derived features for degenerate bytes identically
    to the oracle's md5 math — no crash, no NULL row loss."""
    from broadway_spark.operators import multimodal as MM

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.encode(F.substring(F.col("text"), 1, 1), "utf-8").alias(
            "content"
        ),
    )
    media = MM.attach_media(docs, "content", "application/octet-stream")
    feats = MM.featurize(media, "content", backend="deterministic_stub")
    # same exact-integer publication as multimodal_features (r13)
    return feats.select(
        "doc_id",
        "byte_len",
        "content_md5",
        (F.element_at("feature", 1) * 65536).cast("int").alias("f0_u16"),
        (F.element_at("feature", 2) * 65536).cast("int").alias("f1_u16"),
    )


def q_edge_convert_hot_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEAVY-HITTER conversion stream: every purchase in the corpus is
    remapped onto ONE bot account (user_id → 7 for purchases) before
    the time-to-convert pipeline — the 10⁶-purchases-one-user class
    the r10 verdict flagged against the old collect_list form, where
    a single aggregation buffer would hold every purchase timestamp.
    The join+min-if rewrite keeps per-user state at one row no matter
    how many purchases pile on the key; AQE skew handling covers the
    shuffle hot key. The result pins the exact per-cohort stats of
    the degenerate stream to the oracle."""
    ev = _t(spark, sf_dir, "events").select(
        F.when(F.col("event_type") == "purchase", F.lit(7).cast("long"))
        .otherwise(F.col("user_id"))
        .alias("user_id"),
        "event_type",
        "ts",
    )
    return _time_to_convert(ev)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "s1_scan": q_s1_scan,
        "s3_transform": q_s3_transform,
        "p1_enrich": q_p1_enrich,
        "p2_map": q_p2_map,
        "p3_failure_split": q_p3_failure_split,
        "x2_partition": q_x2_partition,
        "x3_routing": q_x3_routing,
        "x4_batch_key": q_x4_batch_key,
        "b1_chunk_size": q_b1_chunk_size,
        "b2_chunk_budget": q_b2_chunk_budget,
        "b5_handle_batch": q_b5_handle_batch,
        "a2_dead_letter": q_a2_dead_letter,
        "h1_pricing": q_h1_pricing,
        "h3_top_orders": q_h3_top_orders,
        "h6_revenue": q_h6_revenue,
        "w1_window_topn": q_w1_window_topn,
        "w2_tumbling": q_w2_tumbling,
        "d1_distinct": q_d1_distinct,
        "set1_except": q_set1_except,
        "dedup_exact": q_dedup_exact,
        "text_jaccard_pairs": q_text_jaccard_pairs,
        "pipeline_corpus_clean": q_pipeline_corpus_clean,
        "pipeline_curation_funnel": q_pipeline_curation_funnel,
        "pipeline_dq_audit": q_pipeline_dq_audit,
        "pipeline_profile": q_pipeline_profile,
        "text_winnow": q_text_winnow,
        "text_pii_scrub": q_text_pii_scrub,
        "h5_nation_revenue": q_h5_nation_revenue,
        "str_suite": q_str_suite,
        "date_suite": q_date_suite,
        "h7_having": q_h7_having,
        "j1_outer_nulls": q_j1_outer_nulls,
        "dedup_fingerprint": q_dedup_fingerprint,
        "dedup_minhash": q_dedup_minhash,
        "dedup_incremental_lsh": q_dedup_incremental_lsh,
        "dedup_archive_compact": q_dedup_archive_compact,
        "rel_topk_per_group": q_rel_topk_per_group,
        "dedup_simhash_pairs": q_dedup_simhash_pairs,
        "agg_skew_kurtosis": q_agg_skew_kurtosis,
        "dedup_simhash": q_dedup_simhash,
        "dedup_embedding": q_dedup_embedding,
        "dedup_semantic": q_dedup_semantic,
        "sim_ann_bruteforce": q_sim_ann_bruteforce,
        "sim_ann_lsh": q_sim_ann_lsh,
        "multimodal_features": q_multimodal_features,
        "multimodal_assembly": q_multimodal_assembly,
        "h4_priority_exists": q_h4_priority_exists,
        "r1_rollup": q_r1_rollup,
        "r4_cube": q_r4_cube,
        "w13_time_range": q_w13_time_range,
        "agg_corr_matrix": q_agg_corr_matrix,
        "evt_attribution": q_evt_attribution,
        "sample_soft_dedup": q_sample_soft_dedup,
        "text_stats": q_text_stats,
        "text_langid": q_text_langid,
        "text_lang_confusion": q_text_lang_confusion,
        "text_annotator_agreement": q_text_annotator_agreement,
        "text_corpus_drift": q_text_corpus_drift,
        "text_collocations": q_text_collocations,
        "pipeline_redaction": q_pipeline_redaction,
        "j4_fuzzy_names": q_j4_fuzzy_names,
        "text_fingerprint": q_text_fingerprint,
        "aj1_asof_clicks": q_aj1_asof_clicks,
        "w3_sessions": q_w3_sessions,
        "agg_percentiles": q_agg_percentiles,
        "sketch_hll_users": q_sketch_hll_users,
        "sim_ann_ivf": q_sim_ann_ivf,
        "h2_above_avg": q_h2_above_avg,
        "h10_returned": q_h10_returned,
        "set2_intersect": q_set2_intersect,
        "u1_union": q_u1_union,
        "r2_cube": q_r2_cube,
        "w4_rolling": q_w4_rolling,
        "rj1_follow_pairs": q_rj1_follow_pairs,
        "agg_stats": q_agg_stats,
        "text_bigrams": q_text_bigrams,
        "j2_full_outer": q_j2_full_outer,
        "text_tfidf": q_text_tfidf,
        "text_bm25_topk": q_text_bm25_topk,
        "sample_stratified": q_sample_stratified,
        "sample_weighted": q_sample_weighted,
        "w5_rank_suite": q_w5_rank_suite,
        "pv1_pivot": q_pv1_pivot,
        "emb_centroids": q_emb_centroids,
        "dedup_clusters": q_dedup_clusters,
        "ts_rollup": q_ts_rollup,
        "dedup_incremental": q_dedup_incremental,
        "skew_salted_agg": q_skew_salted_agg,
        "math_suite": q_math_suite,
        "agg_argmax": q_agg_argmax,
        "agg_collect_ordered": q_agg_collect_ordered,
        "w6_trailing_range": q_w6_trailing_range,
        "h8_market_share": q_h8_market_share,
        "h12_late_ship": q_h12_late_ship,
        "h14_promo": q_h14_promo,
        "h18_big_orders": q_h18_big_orders,
        "h19_disjunctive": q_h19_disjunctive,
        "h22_idle_rich": q_h22_idle_rich,
        "w7_hopping": q_w7_hopping,
        "pack_sequences": q_pack_sequences,
        "pack_zorder": q_pack_zorder,
        "pack_shard_manifest": q_pack_shard_manifest,
        "agg_benford": q_agg_benford,
        "pipeline_curriculum": q_pipeline_curriculum,
        "text_vocab_coverage": q_text_vocab_coverage,
        "ts_seasonal_dow": q_ts_seasonal_dow,
        "evt_burstiness": q_evt_burstiness,
        "agg_winsorized_mean": q_agg_winsorized_mean,
        "dedup_cross_source_matrix": q_dedup_cross_source_matrix,
        "evt_time_to_convert": q_evt_time_to_convert,
        "multimodal_pack_budget": q_multimodal_pack_budget,
        "pack_epoch_shuffle": q_pack_epoch_shuffle,
        "text_decontaminate": q_text_decontaminate,
        "h13_order_dist": q_h13_order_dist,
        "h15_top_supplier": q_h15_top_supplier,
        "h17_small_qty": q_h17_small_qty,
        "r3_grouping_sets": q_r3_grouping_sets,
        "w8_value_frames": q_w8_value_frames,
        "f1_funnel": q_f1_funnel,
        "f2_retention": q_f2_retention,
        "arr_suite": q_arr_suite,
        "json_suite": q_json_suite,
        "emb_kmeans": q_emb_kmeans,
        "h9_profit": q_h9_profit,
        "h21_waiting": q_h21_waiting,
        "h16_variety": q_h16_variety,
        "text_top_terms": q_text_top_terms,
        "evt_zscore": q_evt_zscore,
        "w9_dist_suite": q_w9_dist_suite,
        "sim_range_search": q_sim_range_search,
        "h20_excess": q_h20_excess,
        "agg_linreg": q_agg_linreg,
        "w10_islands": q_w10_islands,
        "agg_multi_distinct": q_agg_multi_distinct,
        "sketch_heavy_hitters": q_sketch_heavy_hitters,
        "sketch_cms_parts": q_sketch_cms_parts,
        "text_surprisal": q_text_surprisal,
        "text_surprisal_bigram": q_text_surprisal_bigram,
        "h7_volume": q_h7_volume,
        "h2_min_cost": q_h2_min_cost,
        "sample_split": q_sample_split,
        "sample_split_safe": q_sample_split_safe,
        "sample_kfold": q_sample_kfold,
        "evt_error_burst": q_evt_error_burst,
        "dedup_char_ngram": q_dedup_char_ngram,
        "h11_important": q_h11_important,
        "sample_token_budget": q_sample_token_budget,
        "emb_quantize_int8": q_emb_quantize_int8,
        "j3_semi_anti": q_j3_semi_anti,
        "null_suite": q_null_suite,
        "text_quality_gopher": q_text_quality_gopher,
        "dedup_passage": q_dedup_passage,
        "sketch_hist_quantile": q_sketch_hist_quantile,
        "dedup_canonical": q_dedup_canonical,
        "dedup_containment": q_dedup_containment,
        "bit_suite": q_bit_suite,
        "regex_suite": q_regex_suite,
        "evt_markov": q_evt_markov,
        "evt_journey_patterns": q_evt_journey_patterns,
        "evt_top_paths": q_evt_top_paths,
        "evt_session_journeys": q_evt_session_journeys,
        "emb_top_direction": q_emb_top_direction,
        "ts_ohlc": q_ts_ohlc,
        "ts_interpolate": q_ts_interpolate,
        "ts_ewma": q_ts_ewma,
        "agg_mode": q_agg_mode,
        "sample_exact_k": q_sample_exact_k,
        "sketch_bloom_orders": q_sketch_bloom_orders,
        "text_salient_terms": q_text_salient_terms,
        "w12_cumulative_distinct": q_w12_cumulative_distinct,
        "pipeline_near_dedup_keep": q_pipeline_near_dedup_keep,
        "sketch_hll_daily": q_sketch_hll_daily,
        "dedup_embedding_vec": q_dedup_embedding_vec,
        "multimodal_frame_plan": q_multimodal_frame_plan,
        "evt_anomaly_mad": q_evt_anomaly_mad,
        "sample_mixture_temperature": q_sample_mixture_temperature,
        "text_ttr": q_text_ttr,
        "pv2_unpivot": q_pv2_unpivot,
        "evt_cooccurrence": q_evt_cooccurrence,
        "dedup_lsh_recall": q_dedup_lsh_recall,
        "emb_norm_outliers": q_emb_norm_outliers,
        "cdc_upsert_compact": q_cdc_upsert_compact,
        "cdc_scd2_history": q_cdc_scd2_history,
        "evt_entropy": q_evt_entropy,
        "graph_supplier_rank": q_graph_supplier_rank,
        "pipeline_training_mix": q_pipeline_training_mix,
        "emb_dim_variance": q_emb_dim_variance,
        "sample_balanced_classes": q_sample_balanced_classes,
        "ts_mom_growth": q_ts_mom_growth,
        "agg_deciles": q_agg_deciles,
        "agg_rfm_segments": q_agg_rfm_segments,
        "s7_stream_drain": q_s7_stream_drain,
        "s8_stream_window": q_s8_stream_window,
        "ts_order_intervals": q_ts_order_intervals,
        "text_novelty": q_text_novelty,
        "sample_hard_negatives": q_sample_hard_negatives,
        "evt_dau_wau": q_evt_dau_wau,
        "dedup_body_fingerprint": q_dedup_body_fingerprint,
        "pipeline_topology_drain": q_pipeline_topology_drain,
        "s9_stateful_drain": q_s9_stateful_drain,
        "sim_ann_pq": q_sim_ann_pq,
        "sim_pq_recall": q_sim_pq_recall,
        "sim_ann_ivfpq": q_sim_ann_ivfpq,
        "sim_ivfpq_recall": q_sim_ivfpq_recall,
        "sim_ivfpq_index_merge": q_sim_ivfpq_index_merge,
        "dedup_substring": q_dedup_substring,
        "s10_stream_dedup": q_s10_stream_dedup,
        "s11_stream_near_dedup": q_s11_stream_near_dedup,
        "f2_rate_drain": q_f2_rate_drain,
        "f4_rate_update": q_f4_rate_update,
        "s12_stream_join": q_s12_stream_join,
        "s13_stream_sessions": q_s13_stream_sessions,
        "aj2_asof_tolerance": q_aj2_asof_tolerance,
        "aj3_asof_forward": q_aj3_asof_forward,
        "text_chunk_windows": q_text_chunk_windows,
        "pipeline_chunk_dedup": q_pipeline_chunk_dedup,
        "sample_bernoulli_hash": q_sample_bernoulli_hash,
        "s14_restart_topology": q_s14_restart_topology,
        "s15_restart_stateful": q_s15_restart_stateful,
        "s16_restart_near_dedup": q_s16_restart_near_dedup,
        "s17_restart_join": q_s17_restart_join,
        "ds1_channel_netting": q_ds1_channel_netting,
        "ds2_channel_rollup": q_ds2_channel_rollup,
        "ds3_returns_cohort": q_ds3_returns_cohort,
        "ds4_top_channel_years": q_ds4_top_channel_years,
        "ds5_channel_yoy": q_ds5_channel_yoy,
        "ds6_channel_cumulative": q_ds6_channel_cumulative,
        "ds7_channel_exclusive": q_ds7_channel_exclusive,
        "s18_restart_stream_dedup": q_s18_restart_stream_dedup,
        "f3_restart_spool": q_f3_restart_spool,
        "l4_topology": q_l4_topology,
        "l5_spans": q_l5_spans,
        "s19_stream_static_enrich": q_s19_stream_static_enrich,
        "graph_triangles": q_graph_triangles,
        "ds8_time_bands": q_ds8_time_bands,
        "ds9_rollup_topk": q_ds9_rollup_topk,
        "text_readability": q_text_readability,
        "s20_stream_upsert": q_s20_stream_upsert,
        "s21_restart_upsert": q_s21_restart_upsert,
        "s23_snapshot_diff": q_s23_snapshot_diff,
        "graph_pagerank": q_graph_pagerank,
        "graph_kcore": q_graph_kcore,
        "graph_edge_strength": q_graph_edge_strength,
        "sketch_hll_intersection": q_sketch_hll_intersection,
        "sample_ks_audit": q_sample_ks_audit,
        "pipeline_filter_report": q_pipeline_filter_report,
        "s22_stream_outer_join": q_s22_stream_outer_join,
        "ij1_interval_overlap": q_ij1_interval_overlap,
        "rel_skyline": q_rel_skyline,
        "evt_attribution_decay": q_evt_attribution_decay,
        "rec_item_cosine": q_rec_item_cosine,
        "cdc_pit_join": q_cdc_pit_join,
        "graph_bfs": q_graph_bfs,
        "s24_stream_full_outer": q_s24_stream_full_outer,
        "s25_stream_dropdup_watermark": q_s25_stream_dropdup_watermark,
        "pack_bucket_join": q_pack_bucket_join,
        "s28_restart_bucketed": q_s28_restart_bucketed,
        "ij2_interval_containment": q_ij2_interval_containment,
        "skew_advisor": q_skew_advisor,
        "s26_restart_full_outer": q_s26_restart_full_outer,
        "sql1_shared_ansi": q_sql1_shared_ansi,
        "s27_restart_dropdup": q_s27_restart_dropdup,
        "s29_stream_semi_join": q_s29_stream_semi_join,
        "s30_spool_batch_read": q_s30_spool_batch_read,
        "s31_restart_semi_join": q_s31_restart_semi_join,
        "s32_stream_anti_join": q_s32_stream_anti_join,
        "s33_restart_anti_join": q_s33_restart_anti_join,
        "s34_stream_quality_gate": q_s34_stream_quality_gate,
        "s35_restart_quality_gate": q_s35_restart_quality_gate,
        "ts_gaps": q_ts_gaps,
        "agg_gini": q_agg_gini,
        "sim_hybrid_rrf": q_sim_hybrid_rrf,
        "sketch_cms_heavy_hitters": q_sketch_cms_heavy_hitters,
        "rec_assoc_rules": q_rec_assoc_rules,
        "agg_majority_vote": q_agg_majority_vote,
        "evt_ewma_dyadic": q_evt_ewma_dyadic,
        "multimodal_resize_plan": q_multimodal_resize_plan,
        "pipeline_dataset_card": q_pipeline_dataset_card,
        "agg_hhi_concentration": q_agg_hhi_concentration,
        "edge_skew_constant_key": q_edge_skew_constant_key,
        "edge_text_degenerate": q_edge_text_degenerate,
        "edge_dedup_identical": q_edge_dedup_identical,
        "edge_winnow_short": q_edge_winnow_short,
        "edge_zero_vectors": q_edge_zero_vectors,
        "edge_json_malformed": q_edge_json_malformed,
        "edge_media_1byte": q_edge_media_1byte,
        "edge_convert_hot_user": q_edge_convert_hot_user,
        "edge_journey_hot_user": q_edge_journey_hot_user,
    }


# Queries whose wall time is dominated by fixed Structured-Streaming
# trigger/state machinery (~4-6 s warm each), not data volume — bench.py
# reports a drains-excluded total alongside the headline so the
# cross-round per-query trend stays machine-readable (r5 verdict item 5).
STREAMING_DRAINS = frozenset(
    {
        "s7_stream_drain",
        "s8_stream_window",
        "pipeline_topology_drain",
        "s9_stateful_drain",
        "s10_stream_dedup",
        "s11_stream_near_dedup",
        "f2_rate_drain",
        "f4_rate_update",
        "s12_stream_join",
        "s13_stream_sessions",
        "s14_restart_topology",
        "s15_restart_stateful",
        "s16_restart_near_dedup",
        "s17_restart_join",
        "s18_restart_stream_dedup",
        "f3_restart_spool",
        "s19_stream_static_enrich",
        "s20_stream_upsert",
        "s21_restart_upsert",
        "s22_stream_outer_join",
        "s23_snapshot_diff",
        "s24_stream_full_outer",
        "s25_stream_dropdup_watermark",
        "s26_restart_full_outer",
        "s27_restart_dropdup",
        "s29_stream_semi_join",
        "s31_restart_semi_join",
        "s32_stream_anti_join",
        "s33_restart_anti_join",
        "s34_stream_quality_gate",
        "s35_restart_quality_gate",
    }
)


# --- oracle SQL builders (DuckDB dialect, generated from shared consts) ---


def _profile_oracle() -> str:
    """DuckDB twin of q_pipeline_profile, generated from PROFILE_COLS."""
    aggs = ["CAST(count(*) AS BIGINT) AS n"]
    rows = []
    for c, kind in PROFILE_COLS:
        aggs.append(
            f"CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)"
            f" AS BIGINT) AS null_{c}"
        )
        aggs.append(f"CAST(count(DISTINCT {c}) AS BIGINT) AS nd_{c}")
        if kind == "num":
            aggs.append(f"CAST(round(min({c}), 2) AS DOUBLE) AS mn_{c}")
            aggs.append(f"CAST(round(max({c}), 2) AS DOUBLE) AS mx_{c}")
            mn_num, mx_num = f"mn_{c}", f"mx_{c}"
            mn_str = mx_str = "CAST(NULL AS VARCHAR)"
        elif kind == "str":
            aggs.append(f"min({c}) AS mn_{c}")
            aggs.append(f"max({c}) AS mx_{c}")
            mn_num = mx_num = "CAST(NULL AS DOUBLE)"
            mn_str, mx_str = f"mn_{c}", f"mx_{c}"
        else:
            aggs.append(
                f"strftime(min({c}), '%Y-%m-%d %H:%M:%S') AS mn_{c}"
            )
            aggs.append(
                f"strftime(max({c}), '%Y-%m-%d %H:%M:%S') AS mx_{c}"
            )
            mn_num = mx_num = "CAST(NULL AS DOUBLE)"
            mn_str, mx_str = f"mn_{c}", f"mx_{c}"
        rows.append(
            f"SELECT '{c}' AS column_name, n AS n_rows,"
            f" null_{c} AS n_null, nd_{c} AS n_distinct,"
            f" {mn_num} AS min_num, {mx_num} AS max_num,"
            f" {mn_str} AS min_str, {mx_str} AS max_str FROM w"
        )
    return (
        "WITH w AS (SELECT "
        + ", ".join(aggs)
        + " FROM lineitem) "
        + " UNION ALL ".join(rows)
    )


def _kcore_oracle() -> str:
    """DuckDB twin of q_graph_kcore: KCORE_ROUNDS chained peeling CTEs
    with the identical median-rank k selection."""
    parts = [
        "pp AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok,"
        " l_partkey AS pk FROM lineitem)",
        "und AS MATERIALIZED (SELECT DISTINCT a.pk AS u, b.pk AS v"
        " FROM pp a JOIN pp b ON a.ok = b.ok AND a.pk < b.pk)",
        "e0 AS MATERIALIZED (SELECT u AS src, v AS dst FROM und"
        " UNION ALL SELECT v, u FROM und)",
        "deg0 AS MATERIALIZED (SELECT src, count(*) AS d FROM e0"
        " GROUP BY src)",
        "kv AS MATERIALIZED (SELECT CAST(d AS BIGINT) AS k FROM"
        " (SELECT d, row_number() OVER (ORDER BY d) AS rn,"
        " count(*) OVER () AS n FROM deg0) WHERE rn = (n + 1) // 2)",
    ]
    rows = []
    for r in range(1, KCORE_ROUNDS + 1):
        parts.append(
            f"a{r} AS MATERIALIZED (SELECT src AS id FROM e{r - 1}"
            f" GROUP BY src HAVING count(*) >= (SELECT k FROM kv))"
        )
        parts.append(
            f"e{r} AS MATERIALIZED (SELECT e.src, e.dst FROM e{r - 1} e"
            f" JOIN a{r} x ON e.src = x.id"
            f" JOIN a{r} y ON e.dst = y.id)"
        )
        rows.append(
            f"SELECT CAST({r} AS BIGINT) AS round,"
            f" (SELECT k FROM kv) AS k,"
            f" (SELECT CAST(count(*) AS BIGINT) FROM a{r}) AS n_alive,"
            f" (SELECT CAST(count(*) AS BIGINT) FROM e{r}) AS n_edges"
        )
    return "WITH " + ",\n".join(parts) + "\n" + " UNION ALL ".join(rows)


def _corr_oracle() -> str:
    """DuckDB twin of q_agg_corr_matrix, generated from CORR_COLS with
    the IDENTICAL final double expression."""
    aggs = ["CAST(count(*) AS BIGINT) AS n"]
    for c in CORR_COLS:
        aggs.append(
            f"CAST(SUM(CAST({c} AS DECIMAL(12,2))) AS DOUBLE) AS s_{c}"
        )
        aggs.append(
            f"CAST(SUM(CAST({c} AS DECIMAL(12,2))"
            f" * CAST({c} AS DECIMAL(12,2))) AS DOUBLE) AS q_{c}"
        )
    pairs = [
        (a, b)
        for i, a in enumerate(CORR_COLS)
        for b in CORR_COLS[i + 1 :]
    ]
    rows = []
    for a, b in pairs:
        aggs.append(
            f"CAST(SUM(CAST({a} AS DECIMAL(12,2))"
            f" * CAST({b} AS DECIMAL(12,2))) AS DOUBLE) AS x_{a}_{b}"
        )
        corr = (
            f"round((CAST(n AS DOUBLE) * x_{a}_{b} - s_{a} * s_{b})"
            f" / sqrt((CAST(n AS DOUBLE) * q_{a} - s_{a} * s_{a})"
            f" * (CAST(n AS DOUBLE) * q_{b} - s_{b} * s_{b})), 6)"
        )
        rows.append(
            f"SELECT '{a}' AS col_x, '{b}' AS col_y, n AS n_rows,"
            f" {corr} AS corr FROM w"
        )
    return (
        "WITH w AS (SELECT "
        + ", ".join(aggs)
        + " FROM lineitem) "
        + " UNION ALL ".join(rows)
    )


def _minhash_banded_cte(
    bands: int | None = None, source: str = "documents"
) -> str:
    """The shared docs→sigs→banded CTE fragment: byte-identical
    banding math for every minhash oracle (the pair generators AND
    the archive compaction), mirroring dedup._banded_keys."""
    n_bands = bands if bands is not None else MINHASH_BANDS
    tok = "string_split(lower(text), ' ')"
    parts = ", ".join(f"{tok}[i + {j}]" for j in range(MINHASH_K))
    sh = (
        f"list_distinct(list_transform("
        f"generate_series(1, greatest(len({tok}) - {MINHASH_K - 1}, 1)), "
        f"i -> concat_ws(' ', {parts})))"
    )

    def h(var: str, seed: int) -> str:
        return (
            f"CAST(concat('0x', substr(md5(concat('{seed}', ':', {var})), 1, 8)) "
            f"AS BIGINT)"
        )

    # Same affine family as broadway_spark.operators.dedup.minhash_signature:
    # one md5 base hash per shingle, then h_i = (A[i]*base + B[i]) % P.
    base = f"list_transform(sh, s -> {h('s', 0)})"
    mins = ", ".join(
        f"list_aggregate(list_transform(bh, h -> "
        f"(CAST({D.MINHASH_A[i]} AS BIGINT) * h + {D.MINHASH_B[i]}) % {D.MINHASH_P}"
        f"), 'min')"
        for i in range(MINHASH_NUM)
    )
    rows_per_band = MINHASH_NUM // n_bands
    band_rows = []
    for b in range(n_bands):
        elems = ", ".join(
            f"CAST(sig[{b * rows_per_band + j + 1}] AS VARCHAR)"
            for j in range(rows_per_band)
        )
        band_rows.append(f"concat_ws('-', '{b}', {elems})")
    bands_list = ", ".join(band_rows)
    return f"""docs AS (
  SELECT doc_id AS id, {sh} AS sh FROM {source}
), sigs AS (
  SELECT id, sh, list_value({bands_list}) AS bands FROM (
    SELECT id, sh, list_value({mins}) AS sig FROM (
      SELECT id, sh, {base} AS bh FROM docs
    )
  )
), banded AS (
  SELECT id, unnest(bands) AS band FROM sigs
)"""


def _minhash_oracle(comparator: str = ">=", bands: int | None = None) -> str:
    return f"""
WITH {_minhash_banded_cte(bands)}, cand AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b
  FROM banded l JOIN banded r ON l.band = r.band AND l.id < r.id
)
SELECT c.id_a, c.id_b,
       CAST((CAST(len(list_intersect(a.sh, b.sh)) AS HUGEINT) * 1000000)
            // CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS HUGEINT)
            AS BIGINT) AS jaccard_ppm
FROM cand c
JOIN docs a ON a.id = c.id_a
JOIN docs b ON b.id = c.id_b
WHERE (CAST(len(list_intersect(a.sh, b.sh)) AS HUGEINT) * 1000000)
        // CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS HUGEINT)
      {comparator} {X.ppm(MINHASH_THRESHOLD)}
"""


def _simhash_oracle() -> str:
    th = (
        f"list_transform(string_split(lower(text), ' '), "
        f"t -> CAST(concat('0x', substr(md5(concat('{SIMHASH_SEED}', ':', t)), 1, 8)) AS BIGINT))"
    )
    bitsum = (
        f"list_sum(list_transform(th, h -> CASE WHEN (h >> b) % 2 = 1 "
        f"THEN 1 ELSE -1 END))"
    )
    return f"""
SELECT doc_id,
       CAST(list_sum(list_transform(generate_series(0, {SIMHASH_BITS - 1}),
         b -> CASE WHEN {bitsum} >= 0
                   THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END))
         AS BIGINT) AS simhash
FROM (SELECT doc_id, {th} AS th FROM documents)
"""


def _range_search_oracle() -> str:
    cos = V.cosine_similarity_sql("c.embedding", "q.embedding")
    return f"""
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {ANN_NQUERY})
SELECT query_id, neighbor_id, cos_sim FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({cos}, 6) AS cos_sim
  FROM embeddings c CROSS JOIN q
  WHERE q.vec_id <> c.vec_id
) WHERE cos_sim >= 0.35
"""


def _cms_oracle() -> str:
    probe = ("(SELECT l_partkey FROM lineitem GROUP BY l_partkey"
             " ORDER BY l_partkey LIMIT 20)")
    return K.cms_sql("lineitem", "l_partkey", probe, "l_partkey")


def _ann_oracle() -> str:
    cos = V.cosine_similarity_sql("c.embedding", "q.embedding")
    return f"""
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {ANN_NQUERY}),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({cos}, 6) AS cos_sim
  FROM embeddings c CROSS JOIN q
  WHERE q.vec_id <> c.vec_id
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cos_sim DESC, neighbor_id ASC) AS INT) AS rank
  FROM scored
) WHERE rank <= {ANN_K}
"""


def _ann_lsh_oracle() -> str:
    cos = V.cosine_similarity_sql("c.embedding", "q.embedding")
    bucket = S.srp_bucket_sql("embedding", num_planes=4, dim=64)
    # same Hamming-1 multi-probe masks as ann_lsh_topk(probes=5)
    masks = "[0, 1, 2, 4, 8]"
    return f"""
WITH bucketed AS (
  SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings
), q AS (
  SELECT b.vec_id, b.embedding, xor(b.bucket, t.m) AS bucket
  FROM (SELECT * FROM bucketed WHERE vec_id < {ANN_NQUERY}) b,
       unnest({masks}) AS t(m)
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({cos}, 6) AS cos_sim
  FROM bucketed c JOIN q ON c.bucket = q.bucket
  WHERE q.vec_id <> c.vec_id
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cos_sim DESC, neighbor_id ASC) AS INT) AS rank
  FROM scored
) WHERE rank <= {ANN_K}
"""


def _ann_ivf_oracle() -> str:
    cell_cos = V.cosine_similarity_sql("e.embedding", "c.pv")
    score_cos = V.cosine_similarity_sql("ca.embedding", "qa.qemb")
    return f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding AS pv FROM embeddings
  WHERE vec_id < {IVF_NCENT}
), ca AS (
  SELECT vec_id AS neighbor_id, embedding, cell FROM (
    SELECT e.vec_id, e.embedding, c.cid AS cell,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round({cell_cos}, 6) DESC, c.cid ASC) AS rk
    FROM embeddings e CROSS JOIN cent c
  ) WHERE rk = 1
), qa AS (
  SELECT vec_id AS query_id, qemb, cell FROM (
    SELECT e.vec_id, e.embedding AS qemb, c.cid AS cell,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round({cell_cos}, 6) DESC, c.cid ASC) AS rk
    FROM embeddings e CROSS JOIN cent c
    WHERE e.vec_id < {ANN_NQUERY}
  ) WHERE rk <= {IVF_NPROBE}
), scored AS (
  SELECT qa.query_id, ca.neighbor_id, round({score_cos}, 6) AS cos_sim
  FROM ca JOIN qa ON ca.cell = qa.cell
  WHERE qa.query_id <> ca.neighbor_id
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cos_sim DESC, neighbor_id ASC) AS INT) AS rank
  FROM scored
) WHERE rank <= {ANN_K}
"""


def _stream_neardedup_oracle() -> str:
    """DuckDB twin of the s11 windowed streaming near-dedup drain:
    same md5 affine MinHash family over props tokens, per
    (hour-window, band) min-id arbitration, survivors won ALL bands;
    emitted windows are those the availableNow drain's final watermark
    (max ts - delay) has closed — mirrored as a scalar cutoff."""
    tok = "string_split(lower(props), ' ')"
    parts = ", ".join(f"{tok}[i + {j}]" for j in range(MINHASH_K))
    sh = (
        f"list_distinct(list_transform("
        f"generate_series(1, greatest(len({tok}) - {MINHASH_K - 1}, 1)), "
        f"i -> concat_ws(' ', {parts})))"
    )
    h0 = "CAST(concat('0x', substr(md5(concat('0', ':', s)), 1, 8)) AS BIGINT)"
    base = f"list_transform(sh, s -> {h0})"
    mins = ", ".join(
        f"list_aggregate(list_transform(bh, h -> "
        f"(CAST({D.MINHASH_A[i]} AS BIGINT) * h + {D.MINHASH_B[i]}) % {D.MINHASH_P}"
        f"), 'min')"
        for i in range(MINHASH_NUM)
    )
    rows_per_band = MINHASH_NUM // MINHASH_BANDS
    band_rows = []
    for b in range(MINHASH_BANDS):
        elems = ", ".join(
            f"CAST(sig[{b * rows_per_band + j + 1}] AS VARCHAR)"
            for j in range(rows_per_band)
        )
        band_rows.append(f"concat_ws('-', '{b}', {elems})")
    bands_list = ", ".join(band_rows)
    return f"""
WITH ev AS (
  SELECT event_id AS id, date_trunc('hour', ts) AS win_start, {sh} AS sh
  FROM events
), sigs AS (
  SELECT id, win_start, list_value({bands_list}) AS bands FROM (
    SELECT id, win_start, list_value({mins}) AS sig FROM (
      SELECT id, win_start, {base} AS bh FROM ev
    )
  )
), banded AS (
  SELECT id, win_start, unnest(bands) AS band FROM sigs
), winners AS (
  SELECT win_start, band, min(id) AS id FROM banded
  GROUP BY win_start, band
), won AS (
  SELECT win_start, id, count(*) AS n_won FROM winners
  GROUP BY win_start, id
)
SELECT id AS event_id,
       strftime(win_start, '%Y-%m-%d %H:00') AS bucket
FROM won
WHERE n_won = {MINHASH_BANDS}
  AND win_start + INTERVAL 1 HOUR
      <= (SELECT max(ts) - INTERVAL 1 HOUR FROM events)
"""


def _pq_codes_core() -> str:
    """Shared CTE block building the trained PQ code index: micro-unit
    ROW form (mic/vrows), sampled codebook (crows0), PQ_TRAIN_ITERS
    per-subspace Lloyd rounds (assignment = exact-BIGINT argmin, lower
    code wins ties; update = element-wise
    floor(CAST(sum AS DOUBLE)/count) — the emb_kmeans parity
    convention), final distances (cd), corpus codes (codes) and query
    ADC tables (qtab). Mirrors the shared helpers in
    operators/similarity.py (_pq_rows/_pq_trained_codebook/_pq_encode)
    CTE-for-dataframe; consumed by BOTH the flat-PQ and the IVF-PQ
    oracles."""
    sub = 64 // PQ_M
    train = ""
    prev = "crows0"
    for i in range(1, PQ_TRAIN_ITERS + 1):
        train += f"""
pqd{i} AS (
  SELECT v.vec_id, v.m, c.code,
         SUM((v.val - c.cm) * (v.val - c.cm)) AS d
  FROM vrows v JOIN {prev} c ON v.pos = c.pos
  GROUP BY v.vec_id, v.m, c.code
),
pqa{i} AS (
  SELECT vec_id, m, code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, m
               ORDER BY d, code) AS rk
    FROM pqd{i}) WHERE rk = 1
),
pqc{i} AS (
  SELECT a.code, v.pos, v.m,
         CAST(floor(CAST(SUM(v.val) AS DOUBLE) / count(*)) AS BIGINT)
           AS cm
  FROM vrows v JOIN pqa{i} a ON v.vec_id = a.vec_id AND v.m = a.m
  GROUP BY a.code, v.pos, v.m
),"""
        prev = f"pqc{i}"
    return f"""
mic AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
           x -> CAST(floor(x * 1000000) AS BIGINT)) AS vm
  FROM embeddings
),
vrows AS (
  SELECT vec_id, i - 1 AS pos, vm[i] AS val, (i - 1) // {sub} AS m
  FROM mic CROSS JOIN generate_series(1, 64) t(i)
),
crows0 AS (
  SELECT vec_id AS code, pos, m, val AS cm FROM vrows
  WHERE vec_id < {PQ_CODES}
),{train}
cd AS (
  SELECT v.vec_id, v.m, c.code,
         SUM((v.val - c.cm) * (v.val - c.cm)) AS d
  FROM vrows v JOIN {prev} c ON v.pos = c.pos
  GROUP BY v.vec_id, v.m, c.code
),
codes AS (
  SELECT vec_id, m, code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, m
               ORDER BY d, code) AS rk
    FROM cd
  ) WHERE rk = 1
),
qtab AS (
  SELECT vec_id AS qid, m, code, d AS qd FROM cd
  WHERE vec_id < {ANN_NQUERY}
)"""


def _pq_shortlist_tail() -> str:
    """Shared shortlist → exact-cosine re-rank → top-k CTEs; expects
    an ``approx(query_id, neighbor_id, ad)`` CTE upstream."""
    cos = V.cosine_similarity_sql("c.embedding", "q.embedding")
    return f"""
short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY ad ASC, neighbor_id ASC) AS srank
    FROM approx
  ) WHERE srank <= {PQ_SHORTLIST}
),
pq_scored AS (
  SELECT s.query_id, s.neighbor_id, round({cos}, 6) AS cos_sim
  FROM short s
  JOIN embeddings q ON q.vec_id = s.query_id
  JOIN embeddings c ON c.vec_id = s.neighbor_id
),
pq_topk AS (
  SELECT query_id, neighbor_id, cos_sim, rank FROM (
    SELECT *, CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY cos_sim DESC, neighbor_id ASC) AS INT) AS rank
    FROM pq_scored
  ) WHERE rank <= {ANN_K}
)"""


def _ann_pq_core() -> str:
    """Flat-PQ top-k CTE chain: brute-force ADC over every (query,
    corpus) code pair, then the shared shortlist/re-rank tail.
    Mirrors operators/similarity.py::ann_pq_topk CTE-for-dataframe."""
    return f"""{_pq_codes_core()},
approx AS (
  SELECT qt.qid AS query_id, c.vec_id AS neighbor_id, SUM(qt.qd) AS ad
  FROM codes c JOIN qtab qt ON c.m = qt.m AND c.code = qt.code
  WHERE qt.qid <> c.vec_id
  GROUP BY qt.qid, c.vec_id
),{_pq_shortlist_tail()}"""


def _ann_ivfpq_core() -> str:
    """IVF-PQ top-k CTE chain, mirroring
    operators/similarity.py::ann_ivfpq_topk CTE-for-dataframe: the
    sim_ann_ivf coarse CTEs (cent/ca/qa — cells tie on 6dp cosine
    desc, cid asc) generate probed-cell candidate pairs, ADC sums run
    over candidates only, then the shared shortlist/re-rank tail."""
    cell_cos = V.cosine_similarity_sql("e.embedding", "c.pv")
    return f"""cent AS (
  SELECT vec_id AS cid, embedding AS pv FROM embeddings
  WHERE vec_id < {IVF_NCENT}
),
ca AS (
  SELECT vec_id AS neighbor_id, cell FROM (
    SELECT e.vec_id, c.cid AS cell,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round({cell_cos}, 6) DESC, c.cid ASC) AS rk
    FROM embeddings e CROSS JOIN cent c
  ) WHERE rk = 1
),
qa AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT e.vec_id, c.cid AS cell,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round({cell_cos}, 6) DESC, c.cid ASC) AS rk
    FROM embeddings e CROSS JOIN cent c
    WHERE e.vec_id < {ANN_NQUERY}
  ) WHERE rk <= {IVF_NPROBE}
),
{_pq_codes_core()},
cand AS (
  SELECT qa.query_id, ca.neighbor_id
  FROM ca JOIN qa ON ca.cell = qa.cell
  WHERE qa.query_id <> ca.neighbor_id
),
approx AS (
  SELECT p.query_id, p.neighbor_id, SUM(qt.qd) AS ad
  FROM cand p
  JOIN codes c ON c.vec_id = p.neighbor_id
  JOIN qtab qt ON qt.qid = p.query_id
             AND qt.m = c.m AND qt.code = c.code
  GROUP BY p.query_id, p.neighbor_id
),{_pq_shortlist_tail()}"""


def _ann_pq_oracle() -> str:
    return f"""
WITH {_ann_pq_core()}
SELECT query_id, neighbor_id, cos_sim, rank FROM pq_topk
"""


def _ann_ivfpq_oracle() -> str:
    return f"""
WITH {_ann_ivfpq_core()}
SELECT query_id, neighbor_id, cos_sim, rank FROM pq_topk
"""


def _ivfpq_merge_oracle() -> str:
    """DuckDB twin of operators/similarity.ivfpq_index_merge: PQ
    training CTEs restricted to the ARCHIVE rows (frozen index), one
    all-vector assignment against archive-sampled centroids, per-cell
    error aggregates split by the batch predicate."""
    sub = 64 // PQ_M
    cos = V.cosine_similarity_sql("e.embedding", "c.pv")
    train = ""
    prev = "crows0"
    for i in range(1, PQ_TRAIN_ITERS + 1):
        train += f"""
pqd{i} AS (
  SELECT v.vec_id, v.m, c.code,
         SUM((v.val - c.cm) * (v.val - c.cm)) AS d
  FROM arows v JOIN {prev} c ON v.pos = c.pos
  GROUP BY v.vec_id, v.m, c.code
),
pqa{i} AS (
  SELECT vec_id, m, code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, m
               ORDER BY d, code) AS rk
    FROM pqd{i}) WHERE rk = 1
),
pqc{i} AS (
  SELECT a.code, v.pos, v.m,
         CAST(floor(CAST(SUM(v.val) AS DOUBLE) / count(*)) AS BIGINT)
           AS cm
  FROM arows v JOIN pqa{i} a ON v.vec_id = a.vec_id AND v.m = a.m
  GROUP BY a.code, v.pos, v.m
),"""
        prev = f"pqc{i}"
    return f"""
WITH mic AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
           x -> CAST(floor(x * 1000000) AS BIGINT)) AS vm
  FROM embeddings
),
vrows AS (
  SELECT vec_id, i - 1 AS pos, vm[i] AS val, (i - 1) // {sub} AS m
  FROM mic CROSS JOIN generate_series(1, 64) t(i)
),
arows AS (SELECT * FROM vrows WHERE vec_id % 10 <> 0),
crows0 AS (
  SELECT vec_id AS code, pos, m, val AS cm FROM arows
  WHERE vec_id < {PQ_CODES}
),{train}
cd AS (
  SELECT v.vec_id, v.m, c.code,
         SUM((v.val - c.cm) * (v.val - c.cm)) AS d
  FROM vrows v JOIN {prev} c ON v.pos = c.pos
  GROUP BY v.vec_id, v.m, c.code
),
best AS (
  SELECT vec_id, m, d FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, m
               ORDER BY d, code) AS rk
    FROM cd) WHERE rk = 1
),
verr AS (SELECT vec_id, SUM(d) AS err FROM best GROUP BY vec_id),
cent AS (
  SELECT vec_id AS cid, embedding AS pv FROM embeddings
  WHERE vec_id < {IVF_NCENT} AND vec_id % 10 <> 0
),
asg AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cid AS cell,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round({cos}, 6) DESC, c.cid ASC) AS rk
    FROM embeddings e CROSS JOIN cent c
  ) WHERE rk = 1
),
aagg AS (
  SELECT cell, count(*) AS na, SUM(err) AS sa
  FROM asg JOIN verr USING (vec_id)
  WHERE vec_id % 10 <> 0 GROUP BY cell
),
nagg AS (
  SELECT cell, count(*) AS nn, SUM(err) AS sn
  FROM asg JOIN verr USING (vec_id)
  WHERE vec_id % 10 = 0 GROUP BY cell
)
SELECT a.cell,
       CAST(na AS BIGINT) AS n_archive,
       CAST(coalesce(nn, 0) AS BIGINT) AS n_new,
       CAST(CAST(sa AS HUGEINT) // na AS BIGINT) AS mean_err_archive,
       CAST(CAST(sn AS HUGEINT) // nn AS BIGINT) AS mean_err_new,
       CAST((CAST(sn AS HUGEINT) * na * 1000000)
            // (CAST(sa AS HUGEINT) * nn) AS BIGINT) AS drift_ppm
FROM aagg a LEFT JOIN nagg n USING (cell)
"""


def _ivfpq_recall_oracle() -> str:
    cos = V.cosine_similarity_sql("c.embedding", "q.embedding")
    return f"""
WITH {_ann_ivfpq_core()},
bf AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY round({cos}, 6) DESC, c.vec_id ASC) AS rank
    FROM embeddings c CROSS JOIN
         (SELECT vec_id, embedding FROM embeddings
          WHERE vec_id < {ANN_NQUERY}) q
    WHERE q.vec_id <> c.vec_id
  ) WHERE rank <= {ANN_K}
)
SELECT count(*) AS n_true,
       CAST(SUM(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         AS BIGINT) AS n_found,
       CAST((CAST(SUM(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS HUGEINT) * 1000000)
            // CAST(count(*) AS HUGEINT) AS BIGINT) AS recall_ppm
FROM bf LEFT JOIN pq_topk p
  ON bf.query_id = p.query_id AND bf.neighbor_id = p.neighbor_id
"""


def _pq_recall_oracle() -> str:
    cos = V.cosine_similarity_sql("c.embedding", "q.embedding")
    return f"""
WITH {_ann_pq_core()},
bf AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY round({cos}, 6) DESC, c.vec_id ASC) AS rank
    FROM embeddings c CROSS JOIN
         (SELECT vec_id, embedding FROM embeddings
          WHERE vec_id < {ANN_NQUERY}) q
    WHERE q.vec_id <> c.vec_id
  ) WHERE rank <= {ANN_K}
)
SELECT count(*) AS n_true,
       CAST(SUM(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         AS BIGINT) AS n_found,
       CAST((CAST(SUM(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS HUGEINT) * 1000000)
            // CAST(count(*) AS HUGEINT) AS BIGINT) AS recall_ppm
FROM bf LEFT JOIN pq_topk p
  ON bf.query_id = p.query_id AND bf.neighbor_id = p.neighbor_id
"""


def _embedding_neardup_oracle() -> str:
    cos = V.cosine_similarity_sql("l.embedding", "r.embedding")
    return f"""
SELECT l.vec_id AS id_a, r.vec_id AS id_b, round({cos}, 6) AS cos_sim
FROM embeddings l JOIN embeddings r
  ON l.label = r.label AND l.vec_id < r.vec_id
WHERE round({cos}, 6) >= {NEARDUP_COS}
"""


def _kmeans_assign_cte(k: int, iters: int) -> str:
    """The emb_kmeans oracle's Lloyd recurrence as a parameterized CTE
    chain ending in ``afin(vid, cl, dist)`` — identical math (micro-unit
    quantize, lowest-id init, floor-mean update, (dist, cl) tie-break),
    generated instead of hand-unrolled so cluster-blocked consumers
    (dedup_semantic) share one definition."""
    parts = [
        f"""vrows AS (
  SELECT vec_id AS vid,
         unnest(generate_series(1, len(embedding))) AS pos,
         unnest(list_transform(CAST(embedding AS DOUBLE[]),
           x -> CAST(floor(x * 1000000) AS BIGINT))) AS vm
  FROM embeddings
),
finit AS (
  SELECT vec_id,
         CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cl
  FROM (SELECT DISTINCT vec_id FROM embeddings
        ORDER BY vec_id LIMIT {k})
),
c0 AS (
  SELECT f.cl, v.pos, v.vm AS cm
  FROM vrows v JOIN finit f ON v.vid = f.vec_id
)"""
    ]
    prev_c = "c0"
    for i in range(1, iters + 2):
        parts.append(
            f""",
d{i} AS (
  SELECT v.vid, c.cl,
         SUM((v.vm - c.cm) * (v.vm - c.cm)) AS dist
  FROM vrows v JOIN {prev_c} c ON v.pos = c.pos
  GROUP BY v.vid, c.cl
),
a{i} AS (
  SELECT vid, cl, dist FROM (
    SELECT vid, cl, dist, row_number() OVER (
      PARTITION BY vid ORDER BY dist, cl) AS rn
    FROM d{i}) WHERE rn = 1
)"""
        )
        if i <= iters:
            parts.append(
                f""",
c{i} AS (
  SELECT a.cl, v.pos,
         CAST(floor(CAST(SUM(v.vm) AS DOUBLE) / count(*)) AS BIGINT)
           AS cm
  FROM vrows v JOIN a{i} a ON v.vid = a.vid
  GROUP BY a.cl, v.pos
)"""
            )
        prev_c = f"c{i}"
    parts.append(
        f",\nafin AS (SELECT vid, cl, dist FROM a{iters + 1})"
    )
    return "".join(parts)


def _bm25_oracle() -> str:
    """text_bm25_topk twin. Float literals are embedded via repr() and
    CAST(... AS DOUBLE) so DuckDB's decimal-literal typing cannot
    diverge from Spark's double arithmetic; the expression tree mirrors
    the Spark column expressions node for node."""
    vals = ", ".join(
        f"({qid}, '{t}')" for qid, ts in BM25_QUERIES for t in ts
    )
    k1 = f"CAST({BM25_K1!r} AS DOUBLE)"
    k1p1 = f"CAST({BM25_K1 + 1.0!r} AS DOUBLE)"
    b = f"CAST({BM25_B!r} AS DOUBLE)"
    omb = f"CAST({1.0 - BM25_B!r} AS DOUBLE)"
    half = "CAST(0.5 AS DOUBLE)"
    one = "CAST(1.0 AS DOUBLE)"
    return f"""
WITH base AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks,
         CAST(len(string_split(lower(text), ' ')) AS INT) AS dl
  FROM documents
),
stats AS (
  SELECT count(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM base
),
qterms(query_id, term) AS (VALUES {vals}),
matched AS (
  SELECT t.query_id, t.term, b.doc_id, b.dl
  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM base) b
  JOIN qterms t USING (term)
),
tf AS (
  SELECT query_id, term, doc_id, dl, count(*) AS tf
  FROM matched GROUP BY 1, 2, 3, 4
),
dfreq AS (
  SELECT term, count(*) AS df
  FROM (SELECT DISTINCT term, doc_id FROM tf) GROUP BY term
),
scored AS (
  SELECT f.query_id, f.doc_id,
         CAST(floor(
           ln({one} + (s.n_docs - d.df + {half}) / (d.df + {half}))
           * (f.tf * {k1p1})
           / (f.tf + {k1} * ({omb} + {b}
              * (f.dl * s.n_docs / s.sum_dl)))
           * CAST(1000000.0 AS DOUBLE) + {half}) AS BIGINT) AS sm
  FROM tf f JOIN dfreq d USING (term) CROSS JOIN stats s
),
per_doc AS (
  SELECT query_id, doc_id, CAST(SUM(sm) AS BIGINT) AS score_micro
  FROM scored GROUP BY 1, 2
)
SELECT * FROM (
  SELECT query_id, doc_id, score_micro,
         CAST(row_number() OVER (PARTITION BY query_id
           ORDER BY score_micro DESC, doc_id ASC) AS INT) AS rank
  FROM per_doc)
WHERE rank <= {BM25_TOPK}
"""


def _semantic_dedup_oracle() -> str:
    cos = V.cosine_similarity_sql("l.embedding", "r.embedding")
    return f"""
WITH {_kmeans_assign_cte(SEMDEDUP_K, KMEANS_ITERS)},
clustered AS (
  SELECT e.vec_id, e.embedding, a.cl
  FROM embeddings e JOIN afin a ON e.vec_id = a.vid
),
removed AS (
  SELECT DISTINCT r.vec_id
  FROM clustered l JOIN clustered r
    ON l.cl = r.cl AND l.vec_id < r.vec_id
  WHERE round({cos}, 6) >= {NEARDUP_COS}
)
SELECT c.vec_id, CAST(c.cl AS INT) AS cluster_id,
       CAST(CASE WHEN rm.vec_id IS NULL THEN 1 ELSE 0 END AS INT)
         AS kept
FROM clustered c LEFT JOIN removed rm ON c.vec_id = rm.vec_id
"""


def _restart_topology_oracle() -> str:
    """s14 twin: the pipeline_topology_drain window-function oracle
    extended with the ntile file split (chunking is per micro-batch =
    per staged file) plus the exactly-once invariant rows."""
    return f"""
            WITH ordered AS (
              SELECT *, ntile({RESTART_M}) OVER (ORDER BY ts, event_id) - 1
                       AS file_idx
              FROM events
            ),
            base AS (
              SELECT event_id, file_idx, user_id, event_type, value,
                     event_type <> 'error' AS ok,
                     CAST(floor(value * 100 + 0.5) AS BIGINT) AS w_cents,
                     CASE WHEN event_type = 'purchase' THEN 'billing'
                          ELSE 'default' END AS batcher,
                     CAST(user_id % 10 AS VARCHAR) AS batch_key,
                     CASE WHEN event_type = 'signup' THEN 'flush'
                          ELSE 'bulk' END AS batch_mode,
                     CASE WHEN event_type <> 'error' AND user_id % 7 = 0
                            THEN 'early'
                          WHEN event_type = 'error' AND user_id % 5 = 0
                            THEN 'retry'
                          ELSE 'late' END AS ack_policy
              FROM ordered
            ),
            billing AS (
              SELECT b.*,
                     CAST(floor((row_number() OVER (PARTITION BY file_idx,
                       batch_key ORDER BY event_id) - 1) / 16) AS BIGINT)
                       AS chunk_id
              FROM base b WHERE ok AND batcher = 'billing'
            ),
            billing_trig AS (
              SELECT *,
                     count(*) OVER (PARTITION BY file_idx, batch_key,
                       chunk_id) AS bsz,
                     CASE WHEN batch_mode = 'flush' THEN 'flush'
                          WHEN count(*) OVER (PARTITION BY file_idx,
                            batch_key, chunk_id) = 16 THEN 'size'
                          ELSE 'timeout' END AS trig
              FROM billing
            ),
            dflt AS (
              SELECT b.*,
                     CAST(floor((sum(w_cents) OVER (PARTITION BY file_idx,
                       batch_key ORDER BY event_id ROWS BETWEEN UNBOUNDED
                       PRECEDING AND CURRENT ROW) - w_cents) / 20000.0)
                       AS BIGINT) AS chunk_id
              FROM base b WHERE ok AND batcher = 'default'
            ),
            dflt_trig AS (
              SELECT *,
                     count(*) OVER (PARTITION BY file_idx, batch_key,
                       chunk_id) AS bsz,
                     CASE WHEN batch_mode = 'flush' THEN 'flush'
                          ELSE 'timeout' END AS trig
              FROM dflt
            ),
            acks AS (
              SELECT batcher, 'ok' AS outcome, 'early' AS trig,
                     CAST(-1 AS BIGINT) AS bsz
              FROM base WHERE ok AND ack_policy = 'early'
              UNION ALL
              SELECT batcher, 'failed', NULL, CAST(-1 AS BIGINT)
              FROM base WHERE NOT ok AND ack_policy <> 'retry'
              UNION ALL
              SELECT batcher, 'ok', trig, bsz
              FROM billing_trig WHERE ack_policy <> 'early'
              UNION ALL
              SELECT batcher, 'ok', trig, bsz
              FROM dflt_trig WHERE ack_policy <> 'early'
            )
            SELECT 'ack' AS section, batcher, outcome,
                   coalesce(trig, '-') AS "trigger", bsz,
                   count(*) AS n, CAST(NULL AS DOUBLE) AS sum_value
            FROM acks GROUP BY batcher, outcome, trig, bsz
            UNION ALL
            SELECT 'sink', 'billing', 'rows', '-', CAST(-1 AS BIGINT),
                   count(*),
                   CAST(SUM(CAST(value * 2 AS DECIMAL(18,2))) AS DOUBLE)
            FROM base WHERE ok AND batcher = 'billing'
            UNION ALL
            SELECT 'sink', 'default', 'rows', '-', CAST(-1 AS BIGINT),
                   count(*),
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
            FROM base WHERE ok AND batcher = 'default'
            UNION ALL
            SELECT 'dlq', batcher,
                   CASE WHEN ack_policy = 'retry' THEN 'retry'
                        ELSE 'terminal' END AS disposition,
                   '-', CAST(-1 AS BIGINT), count(*),
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
            FROM base WHERE NOT ok
            GROUP BY batcher, disposition
            UNION ALL
            SELECT 'invariant', 'all', 'ack_rows', '-',
                   CAST(-1 AS BIGINT), count(*), CAST(NULL AS DOUBLE)
            FROM base WHERE ok OR ack_policy <> 'retry'
            UNION ALL
            SELECT 'invariant', 'all', 'ack_distinct', '-',
                   CAST(-1 AS BIGINT), count(*), CAST(NULL AS DOUBLE)
            FROM base WHERE ok OR ack_policy <> 'retry'"""


def _restart_stateful_oracle() -> str:
    """s15 twin: batch-split-invariant delivery totals — per-batcher
    ack outcomes, sink counts + exact value sums, DLQ, and the
    exactly-once invariant (total acks = distinct acks = N). WHICH
    timer/size/flush trigger flushed a chunk is wall-clock-dependent
    across micro-batch boundaries (B3 semantics), so unlike the s9
    single-batch twin it is deliberately NOT part of this hash."""
    return """
            WITH base AS (
              SELECT event_id, user_id, event_type, value,
                     event_type <> 'error' AS ok,
                     CASE WHEN event_type = 'purchase' THEN 'billing'
                          ELSE 'default' END AS batcher
              FROM events
            )
            SELECT 'ack' AS section, batcher,
                   CASE WHEN ok THEN 'ok' ELSE 'failed' END AS outcome,
                   '-' AS "trigger", CAST(-1 AS BIGINT) AS bsz,
                   count(*) AS n, CAST(NULL AS DOUBLE) AS sum_value
            FROM base GROUP BY batcher, ok
            UNION ALL
            SELECT 'sink', 'billing', 'rows', '-', CAST(-1 AS BIGINT),
                   count(*),
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
            FROM base WHERE ok AND batcher = 'billing'
            UNION ALL
            SELECT 'sink', 'default', 'rows', '-', CAST(-1 AS BIGINT),
                   count(*),
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
            FROM base WHERE ok AND batcher = 'default'
            UNION ALL
            SELECT 'dlq', batcher, 'failed', '-', CAST(-1 AS BIGINT),
                   count(*),
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
            FROM base WHERE NOT ok GROUP BY batcher
            UNION ALL
            SELECT 'invariant', 'all', 'ack_rows', '-',
                   CAST(-1 AS BIGINT), count(*), CAST(NULL AS DOUBLE)
            FROM base
            UNION ALL
            SELECT 'invariant', 'all', 'ack_distinct', '-',
                   CAST(-1 AS BIGINT), count(*), CAST(NULL AS DOUBLE)
            FROM base"""


def oracle_sql() -> dict[str, str]:
    sql = {
        "s1_scan": f"""
            SELECT count(*) AS n_events, {_dsum_sql('value')} AS sum_value,
                   min(event_id) AS min_id, max(event_id) AS max_id
            FROM events""",
        "s3_transform": """
            SELECT event_id,
                   CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
                   event_type
            FROM events""",
        "p1_enrich": f"""
            SELECT n_name AS nation, count(*) AS n_events,
                   {_dsum_sql('value')} AS sum_value
            FROM events e
            JOIN customer c ON e.user_id = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY n_name""",
        "p2_map": """
            SELECT l_orderkey, l_linenumber,
                   round(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                         * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE), 4)
                     AS revenue,
                   lower(concat(l_returnflag, l_linestatus)) AS flag_status,
                   CAST(year(l_shipdate) AS INT) AS ship_year,
                   CAST(month(l_shipdate) AS INT) AS ship_month,
                   CAST(l_quantity AS INT) AS qty
            FROM lineitem""",
        "p3_failure_split": f"""
            SELECT (event_type <> 'error') AS ok, count(*) AS n,
                   {_dsum_sql('value')} AS sum_value
            FROM events GROUP BY 1""",
        "x2_partition": """
            SELECT (user_id % 8) AS bucket, count(*) AS n,
                   min(event_id) AS min_id, max(event_id) AS max_id
            FROM events GROUP BY 1""",
        "x3_routing": """
            SELECT (CASE WHEN event_type = 'purchase' THEN 'billing'
                         WHEN event_type = 'error' THEN 'dlq'
                         ELSE 'default' END) AS batcher, count(*) AS n
            FROM events GROUP BY 1""",
        "x4_batch_key": f"""
            SELECT user_id AS batch_key, count(*) AS n,
                   {_dsum_sql('value')} AS sum_value, max(event_id) AS max_id
            FROM events GROUP BY 1""",
        "b1_chunk_size": """
            SELECT user_id, chunk_id, count(*) AS n,
                   min(event_id) AS min_id, max(event_id) AS max_id
            FROM (
              SELECT user_id, event_id,
                     CAST(floor((row_number() OVER (PARTITION BY user_id
                       ORDER BY event_id) - 1) / 100) AS BIGINT) AS chunk_id
              FROM events
            ) GROUP BY user_id, chunk_id""",
        "b2_chunk_budget": f"""
            SELECT user_id, chunk_id, count(*) AS n,
                   min(event_id) AS min_id, max(event_id) AS max_id
            FROM (
              SELECT user_id, event_id,
                     CAST(floor((sum(value) OVER (PARTITION BY user_id
                       ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) - value) / {BUDGET}) AS BIGINT)
                       AS chunk_id
              FROM events
            ) GROUP BY user_id, chunk_id""",
        "b5_handle_batch": """
            SELECT event_id, user_id,
                   value - min(value) OVER (PARTITION BY user_id)
                     AS value_minus_min,
                   CAST(row_number() OVER (PARTITION BY user_id
                     ORDER BY event_id) AS INT) AS seq
            FROM events""",
        "a2_dead_letter": """
            SELECT event_id, 'poison:error-event' AS reason,
                   'processor' AS stage
            FROM events WHERE event_type = 'error'""",
        "h1_pricing": f"""
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                     AS sum_qty,
                   {_dsum_sql('l_extendedprice')} AS sum_base_price,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                     * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                     AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus""",
        "h3_top_orders": """
            SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                     * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                     AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY l_orderkey, orderdate
            ORDER BY revenue DESC, l_orderkey ASC
            LIMIT 10""",
        "h6_revenue": """
            SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                     * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
                   count(*) AS n
            FROM lineitem
            WHERE l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24""",
        "w1_window_topn": """
            SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     CAST(row_number() OVER (PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS rk
              FROM orders
            ) WHERE rk <= 3""",
        "w2_tumbling": f"""
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour,
                   event_type, count(*) AS n, {_dsum_sql('value')} AS sum_value
            FROM events GROUP BY 1, 2""",
        "d1_distinct": """
            SELECT event_type, count(DISTINCT user_id) AS n_users,
                   count(*) AS n
            FROM events GROUP BY event_type""",
        "set1_except": """
            SELECT count(*) AS n_view_only_users FROM (
              SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
              EXCEPT
              SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
            )""",
        "dedup_exact": """
            SELECT min(doc_id) AS keeper_id, count(*) AS n_copies
            FROM documents GROUP BY text""",
        "text_jaccard_pairs": f"""
            WITH d AS (
              SELECT doc_id, lang, source,
                     list_distinct(string_split(lower(text), ' ')) AS toks
              FROM documents
            )
            SELECT l.doc_id AS id_a, r.doc_id AS id_b,
                   CAST((CAST(len(list_intersect(l.toks, r.toks)) AS HUGEINT)
                         * 1000000)
                        // CAST(len(list_distinct(list_concat(l.toks, r.toks)))
                                AS HUGEINT) AS BIGINT) AS jaccard_ppm
            FROM d l JOIN d r
              ON l.lang = r.lang AND l.source = r.source
             AND l.doc_id < r.doc_id
            WHERE (CAST(len(list_intersect(l.toks, r.toks)) AS HUGEINT)
                   * 1000000)
                  // CAST(len(list_distinct(list_concat(l.toks, r.toks)))
                          AS HUGEINT)
                  >= {X.ppm(JACCARD_PAIR_THRESHOLD)}""",
        "pipeline_corpus_clean": f"""
            WITH scored AS (
              SELECT doc_id,
                     {T.language_id_sql('text')} AS lang_pred,
                     {T.token_count_sql('text')} AS n_tokens,
                     {T.quality_ppm_sql('text')} AS quality_micro,
                     {H.fingerprint_sql('text')} AS fp
              FROM documents),
            kept AS (
              SELECT * FROM scored
              WHERE quality_micro >= {X.ppm(CORPUS_MIN_QUALITY)}
                AND n_tokens BETWEEN {CORPUS_MIN_TOKENS} AND {CORPUS_MAX_TOKENS}),
            keepers AS (
              SELECT min(doc_id) AS keeper_id,
                     min(lang_pred) AS lang_pred,
                     min(n_tokens) AS n_tokens,
                     min(quality_micro) AS quality_micro
              FROM kept GROUP BY fp)
            SELECT lang_pred,
                   count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                   CAST(CAST(sum(quality_micro) AS HUGEINT)
                        // CAST(count(*) AS HUGEINT) AS BIGINT)
                     AS avg_quality_ppm
            FROM keepers GROUP BY lang_pred""",
        "pipeline_curation_funnel": f"""
            WITH scored AS (
              SELECT doc_id, lang, source,
                     list_distinct(string_split(lower(text), ' ')) AS toks,
                     {T.quality_ppm_sql('text')} AS quality_ppm,
                     {T.token_count_sql('text')} AS n_tokens,
                     {H.fingerprint_sql('text')} AS fp
              FROM documents),
            flagged AS (
              SELECT doc_id, lang, source, toks, fp,
                     CASE WHEN quality_ppm >= {X.ppm(CORPUS_MIN_QUALITY)}
                          THEN 1 ELSE 0 END AS q_ok,
                     CASE WHEN quality_ppm >= {X.ppm(CORPUS_MIN_QUALITY)}
                           AND n_tokens BETWEEN {CORPUS_MIN_TOKENS}
                                           AND {CORPUS_MAX_TOKENS}
                          THEN 1 ELSE 0 END AS b_ok
              FROM scored),
            surv3 AS (
              SELECT doc_id, lang, source, toks FROM (
                SELECT doc_id, lang, source, toks,
                       row_number() OVER (PARTITION BY fp ORDER BY doc_id)
                         AS rn
                FROM flagged WHERE b_ok = 1
              ) WHERE rn = 1),
            removed AS (
              SELECT DISTINCT r.doc_id AS id_b
              FROM surv3 l JOIN surv3 r
                ON l.lang = r.lang AND l.source = r.source
               AND l.doc_id < r.doc_id
              WHERE (CAST(len(list_intersect(l.toks, r.toks)) AS HUGEINT)
                     * 1000000)
                    // CAST(len(list_distinct(
                           list_concat(l.toks, r.toks))) AS HUGEINT)
                    >= {X.ppm(JACCARD_PAIR_THRESHOLD)}),
            c AS (
              SELECT CAST(count(*) AS BIGINT) AS n0,
                     CAST(sum(q_ok) AS BIGINT) AS n1,
                     CAST(sum(b_ok) AS BIGINT) AS n2
              FROM flagged),
            c3 AS (SELECT CAST(count(*) AS BIGINT) AS n3 FROM surv3),
            crm AS (SELECT CAST(count(*) AS BIGINT) AS n_rm FROM removed)
            SELECT CAST(1 AS INT) AS stage, 'quality' AS stage_name,
                   n0 AS n_in, n1 AS n_out FROM c, c3, crm
            UNION ALL
            SELECT CAST(2 AS INT), 'token_budget', n1, n2 FROM c, c3, crm
            UNION ALL
            SELECT CAST(3 AS INT), 'exact_dedup', n2, n3 FROM c, c3, crm
            UNION ALL
            SELECT CAST(4 AS INT), 'near_dedup', n3, n3 - n_rm
            FROM c, c3, crm""",
        "pipeline_profile": _profile_oracle(),
        "pipeline_dq_audit": """
            WITH a AS (
              SELECT CAST(count(*) AS BIGINT) AS li_n,
                     CAST(sum(CASE WHEN o.o_orderkey IS NULL
                              THEN 1 ELSE 0 END) AS BIGINT) AS c_orphan,
                     CAST(count(*) - count(DISTINCT (l.l_orderkey,
                              l.l_linenumber)) AS BIGINT) AS c_dup_pk,
                     CAST(sum(CASE WHEN o.o_orderkey IS NOT NULL
                               AND l.l_shipdate < o.o_orderdate
                              THEN 1 ELSE 0 END) AS BIGINT)
                       AS c_ship_early,
                     CAST(sum(CASE WHEN l.l_discount < 0.0
                               OR l.l_discount > 1.0
                              THEN 1 ELSE 0 END) AS BIGINT)
                       AS c_disc_range
              FROM lineitem l
              LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey),
            ls AS (
              SELECT l_orderkey,
                     sum(CAST(l_extendedprice AS DECIMAL(18,2))
                         * (1 - CAST(l_discount AS DECIMAL(18,2))))
                       AS line_total
              FROM lineitem GROUP BY l_orderkey),
            b AS (
              SELECT CAST(count(*) AS BIGINT) AS ord_n,
                     CAST(sum(CASE WHEN c.c_custkey IS NULL
                              THEN 1 ELSE 0 END) AS BIGINT)
                       AS c_ord_orphan,
                     CAST(sum(CASE WHEN ls.l_orderkey IS NULL
                              THEN 1 ELSE 0 END) AS BIGINT) AS c_no_lines,
                     CAST(sum(CASE WHEN ls.l_orderkey IS NOT NULL
                               AND CAST(abs(
                                     CAST(o.o_totalprice AS DECIMAL(18,2))
                                     - ls.line_total) AS DOUBLE)
                                   > CAST(CAST(o.o_totalprice
                                          AS DECIMAL(18,2)) AS DOUBLE)
                                     * 0.01
                              THEN 1 ELSE 0 END) AS BIGINT)
                       AS c_total_drift
              FROM orders o
              LEFT JOIN customer c ON o.o_custkey = c.c_custkey
              LEFT JOIN ls ON o.o_orderkey = ls.l_orderkey),
            c AS (
              SELECT CAST(count(*) AS BIGINT) AS cust_n,
                     CAST(sum(CASE WHEN c_acctbal < 0.0
                              THEN 1 ELSE 0 END) AS BIGINT)
                       AS c_acctbal_neg
              FROM customer),
            d AS (
              SELECT CAST(count(*) AS BIGINT) AS evt_n,
                     CAST(sum(CASE WHEN c.c_custkey IS NULL
                              THEN 1 ELSE 0 END) AS BIGINT)
                       AS c_evt_orphan
              FROM events e
              LEFT JOIN customer c ON e.user_id = c.c_custkey),
            e AS (
              SELECT CAST(count(*) AS BIGINT) AS doc_n,
                     CAST(sum(CASE WHEN text IS NULL
                               OR len(trim(text)) = 0
                              THEN 1 ELSE 0 END) AS BIGINT)
                       AS c_doc_empty
              FROM documents)
            SELECT CAST(ck.check_id AS INT) AS check_id, ck.check_name,
                   ck.table_name, ck.n_checked, ck.n_violations
            FROM a, b, c, d, e, LATERAL (
              SELECT * FROM (VALUES
                (1, 'li_orphan_order',      'lineitem',  a.li_n,
                    a.c_orphan),
                (2, 'li_pk_unique',         'lineitem',  a.li_n,
                    a.c_dup_pk),
                (3, 'li_ship_before_order', 'lineitem',  a.li_n,
                    a.c_ship_early),
                (4, 'li_discount_range',    'lineitem',  a.li_n,
                    a.c_disc_range),
                (5, 'ord_orphan_cust',      'orders',    b.ord_n,
                    b.c_ord_orphan),
                (6, 'ord_no_lines',         'orders',    b.ord_n,
                    b.c_no_lines),
                (7, 'ord_total_consistent', 'orders',    b.ord_n,
                    b.c_total_drift),
                (8, 'cust_acctbal_neg',     'customer',  c.cust_n,
                    c.c_acctbal_neg),
                (9, 'evt_orphan_user',      'events',    d.evt_n,
                    d.c_evt_orphan),
                (10, 'doc_empty_text',      'documents', e.doc_n,
                    e.c_doc_empty)
              ) AS t(check_id, check_name, table_name, n_checked,
                     n_violations)
            ) ck""",
        "h5_nation_revenue": """
            SELECT n_name AS nation,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                     * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                     AS revenue,
                   count(*) AS n_lines
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation   ON c_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            WHERE c_nationkey = s_nationkey AND r_name = 'ASIA'
            GROUP BY n_name""",
        "str_suite": """
            SELECT p_partkey,
                   upper(p_name) AS up,
                   substr(p_name, 1, 5) AS sub5,
                   CAST(length(p_name) AS INT) AS len,
                   regexp_replace(p_name, '[aeiou]', '_', 'g') AS devowel,
                   reverse(p_type) AS rev_type,
                   concat_ws('|', p_brand, p_type) AS brand_type,
                   CAST(strpos(p_name, 'a') AS INT) AS first_a,
                   CAST(len(string_split(p_name, ' ')) AS INT) AS n_words,
                   trim(lpad(p_brand, 12, '#')) AS padded
            FROM part""",
        "date_suite": """
            SELECT o_orderkey,
                   CAST(year(o_orderdate) AS INT) AS y,
                   CAST(quarter(o_orderdate) AS INT) AS q,
                   CAST(month(o_orderdate) AS INT) AS m,
                   CAST(day(o_orderdate) AS INT) AS dom,
                   CAST(dayofweek(o_orderdate) AS INT) AS dow,
                   strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
                   strftime(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY,
                            '%Y-%m-%d') AS plus30,
                   CAST(date_diff('day', CAST(o_orderdate AS DATE),
                                  DATE '2026-01-01') AS INT) AS days_to_2026
            FROM orders""",
        "h7_having": f"""
            SELECT o_custkey, count(*) AS n_orders,
                   {_dsum_sql('o_totalprice')} AS total_spend
            FROM orders GROUP BY o_custkey HAVING count(*) >= 15""",
        "j1_outer_nulls": """
            SELECT c_custkey, count(o_orderkey) AS n_big_orders,
                   coalesce(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                                 AS DOUBLE), 0.0) AS big_total
            FROM customer LEFT JOIN
                 (SELECT * FROM orders WHERE o_totalprice > 4000) o
              ON c_custkey = o.o_custkey
            GROUP BY c_custkey""",
        "dedup_fingerprint": f"""
            SELECT {H.fingerprint_sql('text')} AS fp,
                   min(doc_id) AS keeper_id, count(*) AS n_copies
            FROM documents GROUP BY 1""",
        "sim_ann_lsh": _ann_lsh_oracle(),
        "multimodal_assembly": """
            WITH media AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 2 = 0 THEN 'image/stub'
                          ELSE 'audio/stub' END AS media_type,
                     octet_length(encode(text)) AS byte_len
              FROM documents
            ), vec AS (
              SELECT vec_id, label,
                     list_aggregate(list_transform(embedding,
                       x -> CAST(round(x * 1e6) AS BIGINT)
                            * CAST(round(x * 1e6) AS BIGINT)), 'sum')
                       AS sq
              FROM embeddings
            )
            SELECT media_type, label,
                   count(*) AS n_records,
                   CAST(SUM(byte_len) AS BIGINT) AS sum_bytes,
                   CAST(max(abs(sq - 1000000000000)) AS BIGINT)
                     AS norm_dev_max
            FROM media JOIN vec ON doc_id = vec_id
            GROUP BY 1, 2""",
        "multimodal_features": """
            SELECT doc_id,
                   CAST(octet_length(encode(text)) AS INT) AS byte_len,
                   md5(text) AS content_md5,
                   CAST(concat('0x', substr(md5(text), 1, 4)) AS INT)
                     AS f0_u16,
                   CAST(concat('0x', substr(md5(text), 5, 4)) AS INT)
                     AS f1_u16
            FROM documents""",
        "h4_priority_exists": """
            SELECT o_orderpriority, count(*) AS n_orders
            FROM orders
            WHERE EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey
                            AND l_returnflag = 'R')
            GROUP BY o_orderpriority""",
        "r1_rollup": f"""
            SELECT coalesce(event_type, 'ALL') AS event_type,
                   coalesce(CAST(value_band AS VARCHAR), 'ALL') AS value_band,
                   count(*) AS n, {_dsum_sql('value')} AS sum_value
            FROM (SELECT event_type, CAST(floor(value / 100) AS INT) AS value_band,
                         value FROM events)
            GROUP BY ROLLUP(event_type, value_band)""",
        "w13_time_range": """
            SELECT event_id, user_id,
                   CAST(count(*) OVER w AS BIGINT) AS n_1h,
                   round(CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w
                         AS DOUBLE), 2) AS sum_1h
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                         RANGE BETWEEN 3599999999 PRECEDING
                           AND CURRENT ROW)""",
        "agg_corr_matrix": _corr_oracle(),
        "r4_cube": f"""
            SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
                   coalesce(l_linestatus, 'ALL') AS linestatus,
                   CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT)
                     AS gid,
                   count(*) AS n,
                   {_dsum_sql('l_extendedprice')} AS sum_price
            FROM lineitem
            GROUP BY CUBE(l_returnflag, l_linestatus)""",
        "evt_attribution": f"""
            WITH touched AS (
              SELECT event_type, value,
                     coalesce(last_value(
                       CASE WHEN event_type <> 'purchase'
                            THEN event_type END IGNORE NULLS)
                       OVER (PARTITION BY user_id
                             ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 'direct') AS channel
              FROM events)
            SELECT channel, count(*) AS n_purchases,
                   {_dsum_sql('value')} AS attributed_revenue
            FROM touched WHERE event_type = 'purchase'
            GROUP BY channel""",
        "sample_soft_dedup": f"""
            WITH fp AS (
              SELECT doc_id, source,
                     {H.fingerprint_sql('text')} AS fp
              FROM documents
            ), grp AS (
              SELECT fp, CAST(count(*) AS BIGINT) AS nc
              FROM fp GROUP BY fp
            ), flagged AS (
              SELECT source, nc,
                     CASE WHEN CAST(concat('0x', substr(md5(concat(
                            '{SOFT_DEDUP_SEED}',
                            CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
                            % 1000000
                          < 1000000 // nc
                          THEN 1 ELSE 0 END AS keep
              FROM fp JOIN grp USING (fp))
            SELECT source, count(*) AS n_docs,
                   CAST(SUM(keep) AS BIGINT) AS n_kept,
                   CAST(SUM(CASE WHEN nc > 1 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_duplicated
            FROM flagged GROUP BY source""",
        "dedup_minhash": _minhash_oracle(),
        "dedup_archive_compact": f"""
            WITH {_minhash_banded_cte()}, runs AS (
              SELECT doc_id AS id,
                     CAST(doc_id % {ARCHIVE_RUN_MOD} AS INT) AS run
              FROM documents
              UNION ALL
              SELECT doc_id, CAST({ARCHIVE_RUN_MOD - 1} AS INT)
              FROM documents WHERE doc_id % {ARCHIVE_REINGEST_MOD} = 0
            ), entries AS (
              SELECT r.id, r.run, b.band,
                     CAST(string_split(b.band, '-')[1] AS INT) AS band_id
              FROM runs r JOIN banded b USING (id)
            ), kept AS (
              SELECT * FROM entries WHERE run >= {ARCHIVE_MIN_RUN}
            ), compacted AS (
              SELECT id, band, band_id, max(run) AS run
              FROM kept GROUP BY id, band, band_id
            ), bef AS (
              SELECT band_id, count(*) AS n_before,
                     CAST(SUM(CASE WHEN run < {ARCHIVE_MIN_RUN}
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_expired
              FROM entries GROUP BY band_id
            ), aft AS (
              SELECT band_id, count(*) AS n_after,
                     count(DISTINCT id) AS n_docs,
                     count(DISTINCT band) AS n_buckets
              FROM compacted GROUP BY band_id
            ), buck AS (
              SELECT band_id, CAST(max(bn) AS BIGINT) AS max_bucket
              FROM (
                SELECT band_id, band, count(*) AS bn
                FROM compacted GROUP BY band_id, band
              ) GROUP BY band_id
            )
            SELECT bef.band_id, n_before, n_expired,
                   n_before - n_expired - n_after AS n_merged,
                   n_after, n_docs, n_buckets, max_bucket
            FROM bef JOIN aft ON bef.band_id = aft.band_id
            JOIN buck ON bef.band_id = buck.band_id""",
        "rel_topk_per_group": f"""
            SELECT l_returnflag, l_linestatus, rank, l_orderkey,
                   l_linenumber, CAST(price AS DOUBLE) AS price
            FROM (
              SELECT l_returnflag, l_linestatus,
                     CAST(row_number() OVER (
                       PARTITION BY l_returnflag, l_linestatus
                       ORDER BY CAST(l_extendedprice AS DECIMAL(18,2))
                         DESC, l_orderkey ASC, l_linenumber ASC
                     ) AS INT) AS rank,
                     l_orderkey, l_linenumber,
                     CAST(l_extendedprice AS DECIMAL(18,2)) AS price
              FROM lineitem
            ) WHERE rank <= {REL_TOPK_K}""",
        "dedup_incremental_lsh": f"""
            WITH pairs AS ({_minhash_oracle()})
            SELECT CASE WHEN id_a % 10 = 0 THEN id_a ELSE id_b END
                     AS new_id,
                   CASE WHEN id_a % 10 = 0 THEN id_b ELSE id_a END
                     AS corpus_id,
                   jaccard_ppm
            FROM pairs
            WHERE (id_a % 10 = 0) <> (id_b % 10 = 0)""",
        # Connected components = min reachable id per node: a recursive
        # transitive closure over the SAME pair set as dedup_minhash.
        # (Spark's iterative min-label propagation converges to exactly
        # this fixpoint, so the results match bit-for-bit.)
        "dedup_clusters": f"""
            WITH RECURSIVE pairs AS ({_minhash_oracle()}),
            edges AS (
              SELECT id_a AS src, id_b AS dst FROM pairs
              UNION ALL
              SELECT id_b AS src, id_a AS dst FROM pairs
            ),
            nodes AS (SELECT DISTINCT src AS id FROM edges),
            reach(node, r) AS (
              SELECT id, id FROM nodes
              UNION
              SELECT reach.node, e.dst FROM reach JOIN edges e
                ON reach.r = e.src
            ),
            labels AS (
              SELECT node, min(r) AS cluster_id FROM reach GROUP BY node
            )
            SELECT cluster_id, count(*) AS size
            FROM labels GROUP BY cluster_id""",
        "dedup_simhash": _simhash_oracle(),
        # Ground truth directly (probe-independent): all-pairs Hamming
        # is the ORACLE's luxury at gate scale; the engine side is the
        # banded Manku plan, exact by pigeonhole for ham <= bands-1.
        "dedup_simhash_pairs": f"""
            WITH sh AS ({_simhash_oracle()})
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT)
                     AS hamming
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash))
                    <= {SIMHASH_PAIR_MAXHAM}""",
        "agg_skew_kurtosis": f"""
            WITH sums AS (
              SELECT event_type,
                     CAST(count(*) AS DOUBLE) AS n,
                     CAST(SUM(CAST(value AS DECIMAL(8,2))) AS DOUBLE)
                       AS s1,
                     CAST(SUM(CAST(value AS DECIMAL(8,2))
                              * CAST(value AS DECIMAL(8,2)))
                       AS DOUBLE) AS s2,
                     CAST(SUM(CAST(CAST(value AS DECIMAL(8,2))
                                   * CAST(value AS DECIMAL(8,2))
                              AS DECIMAL(20,4))
                              * CAST(value AS DECIMAL(8,2)))
                       AS DOUBLE) AS s3,
                     CAST(SUM(CAST(CAST(value AS DECIMAL(8,2))
                                   * CAST(value AS DECIMAL(8,2))
                              AS DECIMAL(19,4))
                              * CAST(CAST(value AS DECIMAL(8,2))
                                     * CAST(value AS DECIMAL(8,2))
                                AS DECIMAL(19,4)))
                       AS DOUBLE) AS s4
              FROM events GROUP BY event_type)
            SELECT event_type, CAST(n AS BIGINT) AS n_events,
                   {_MOM_SKEW} AS skewness,
                   {_MOM_KURT} AS kurtosis
            FROM sums""",
        "dedup_embedding": _embedding_neardup_oracle(),
        "dedup_semantic": _semantic_dedup_oracle(),
        "sim_ann_bruteforce": _ann_oracle(),
        "sim_ann_pq": _ann_pq_oracle(),
        "sim_pq_recall": _pq_recall_oracle(),
        "sim_ann_ivfpq": _ann_ivfpq_oracle(),
        "sim_ivfpq_recall": _ivfpq_recall_oracle(),
        "sim_ivfpq_index_merge": _ivfpq_merge_oracle(),
        # Ground truth directly (probe-independent): the quadratic
        # contains() join is the ORACLE's luxury at sf0.01; the engine
        # side is the indexed linear plan.
        "dedup_substring": """
            SELECT a.doc_id AS contained_id, b.doc_id AS container_id
            FROM documents a JOIN documents b
              ON a.doc_id <> b.doc_id
             AND len(a.text) <= len(b.text)
             AND (len(a.text) < len(b.text) OR a.doc_id < b.doc_id)
             AND contains(b.text, a.text)
            WHERE len(a.text) >= 32""",
        "s10_stream_dedup": """
            SELECT user_id, event_id, event_type, value FROM (
              SELECT user_id, event_id, event_type, value,
                     row_number() OVER (PARTITION BY user_id
                       ORDER BY event_id) AS rk
              FROM events
            ) WHERE rk = 1""",
        "s11_stream_near_dedup": _stream_neardedup_oracle(),
        # Admission bucketing as pure math: batch i gets spool-order
        # rows [i*allowed, (i+1)*allowed).
        "f2_rate_drain": f"""
            WITH ev AS (
              SELECT event_id, value,
                     row_number() OVER (ORDER BY event_id) - 1 AS rn
              FROM (SELECT * FROM events ORDER BY event_id LIMIT {F2_N})
            )
            SELECT CAST(rn // {F2_ALLOWED} AS BIGINT) AS batch_id,
                   count(*) AS n,
                   min(event_id) AS min_id, max(event_id) AS max_id,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                     AS sum_value
            FROM ev GROUP BY 1""",
        # Runtime rate update as pure math: the first N1 spool-order
        # rows batch at A1, the rest at A2 — the piecewise admission
        # profile IS the update_rate_limiting contract.
        "f4_rate_update": f"""
            WITH ev AS (
              SELECT event_id, value,
                     row_number() OVER (ORDER BY event_id) - 1 AS rn
              FROM (SELECT * FROM events ORDER BY event_id
                    LIMIT {F4U_N1 + F4U_N2})
            )
            SELECT CAST(CASE WHEN rn < {F4U_N1} THEN rn // {F4U_A1}
                        ELSE {F4U_N1 // F4U_A1}
                             + (rn - {F4U_N1}) // {F4U_A2}
                        END AS BIGINT) AS batch_seq,
                   count(*) AS n,
                   min(event_id) AS min_id, max(event_id) AS max_id,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                     AS sum_value
            FROM ev GROUP BY 1""",
        # Inner stream-stream join emission == the batch join.
        "s12_stream_join": """
            SELECT p.event_id AS purchase_id, c.event_id AS click_id,
                   p.user_id,
                   epoch_us(p.ts) - epoch_us(c.ts) AS gap_micros
            FROM events p JOIN events c
              ON p.user_id = c.user_id
             AND c.ts >= p.ts - INTERVAL 1 HOUR
             AND c.ts <= p.ts
            WHERE p.event_type = 'purchase'
              AND c.event_type = 'click'""",
        # Semi emission == batch EXISTS (matches emit on arrival; semi
        # de-duplicates by construction).
        "s29_stream_semi_join": """
            SELECT p.event_id AS purchase_id, p.user_id,
                   epoch_us(p.ts) AS p_us
            FROM events p
            WHERE p.event_type = 'purchase'
              AND EXISTS (
                SELECT 1 FROM events c
                WHERE c.event_type = 'click'
                  AND c.user_id = p.user_id
                  AND c.ts >= p.ts - INTERVAL 1 HOUR
                  AND c.ts <= p.ts)""",
        # Anti emission == batch NOT EXISTS restricted to purchases the
        # final watermark decided: wm_ms is millisecond-granular (the
        # precision of Spark's event-time stats; computed over the
        # purchase+click rows the stream watermarks), the NOT EXISTS
        # match test keeps full microsecond precision — both mirroring
        # streaming/stream_anti_join.py's decision rule verbatim.
        "s32_stream_anti_join": """
            WITH pc AS (
              SELECT user_id, event_type, event_id, ts FROM events
              WHERE event_type IN ('purchase', 'click')
            ), wm AS (
              SELECT epoch_us(max(ts)) // 1000 - 3600000 AS wm_ms
              FROM pc
            )
            SELECT p.event_id AS purchase_id, p.user_id,
                   epoch_us(p.ts) AS p_us
            FROM pc p, wm
            WHERE p.event_type = 'purchase'
              AND epoch_us(p.ts) // 1000 < wm.wm_ms
              AND NOT EXISTS (
                SELECT 1 FROM pc c
                WHERE c.event_type = 'click'
                  AND c.user_id = p.user_id
                  AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000
                  AND epoch_us(c.ts) <= epoch_us(p.ts))""",
        # The batch read must agree with the table the spool was fed
        # from — plain grouped aggregate over the same first-N slice.
        "s30_spool_batch_read": f"""
            SELECT event_type, count(*) AS n,
                   min(event_id) AS min_id, max(event_id) AS max_id,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                     AS sum_value
            FROM (SELECT * FROM events ORDER BY event_id LIMIT {S30_N})
            GROUP BY event_type""",
        # Batch sessionization + the drain's final-watermark cutoff:
        # a session is emitted iff its end (last event + gap) is at or
        # below max(ts) - delay.
        "s19_stream_static_enrich": """
            SELECT e.event_id, e.user_id, n.n_name AS nation,
                   r.r_name AS region, e.value
            FROM events e
            JOIN nation n ON e.user_id % 25 = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE e.event_type = 'purchase'
        """,
        "s13_stream_sessions": f"""
            WITH o AS (
              SELECT user_id, ts, value, event_id,
                     CASE WHEN lag(ts) OVER win IS NULL
                          OR ts - lag(ts) OVER win
                             > INTERVAL {SESSION_GAP_MIN} MINUTES
                          THEN 1 ELSE 0 END AS is_new
              FROM events
              WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), s AS (
              SELECT user_id, ts, value,
                     SUM(is_new) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS sid
              FROM o
            ), g AS (
              SELECT user_id, min(ts) AS t0, max(ts) AS t1,
                     count(*) AS n_events,
                     {_dsum_sql('value')} AS sum_value
              FROM s GROUP BY user_id, sid
            )
            SELECT user_id, epoch_us(t0) AS session_start_us,
                   n_events, sum_value
            FROM g
            WHERE t1 + INTERVAL {SESSION_GAP_MIN} MINUTES
                  <= (SELECT max(ts) - INTERVAL 1 HOUR FROM events)""",
        "text_stats": f"""
            SELECT doc_id,
                   {T.token_count_sql('text')} AS n_tokens,
                   {T.bpe_ish_token_count_sql('text')} AS n_bpe_tokens,
                   {T.quality_ppm_sql('text')} AS quality_ppm
            FROM documents""",
        "text_langid": f"""
            SELECT {T.language_id_sql('text')} AS lang_pred, count(*) AS n
            FROM documents GROUP BY 1""",
        "text_lang_confusion": f"""
            WITH cells AS (
              SELECT lang, {T.language_id_sql('text')} AS lang_pred,
                     CAST(count(*) AS BIGINT) AS n
              FROM documents GROUP BY 1, 2)
            SELECT lang, lang_pred, n,
                   CAST((n * 1000000)
                        // sum(n) OVER (PARTITION BY lang) AS BIGINT)
                     AS recall_ppm
            FROM cells""",
        "text_annotator_agreement": f"""
            WITH cells AS (
              SELECT lang, {T.language_id_sql('text')} AS lang_pred,
                     CAST(count(*) AS BIGINT) AS n
              FROM documents GROUP BY 1, 2
            ), marg AS (
              SELECT COALESCE(SUM(COALESCE(CAST(r.row_n AS HUGEINT), 0)
                                  * COALESCE(c.col_n, 0)), 0) AS s
              FROM (SELECT lang AS lab, SUM(n) AS row_n
                    FROM cells GROUP BY 1) r
              FULL OUTER JOIN
                   (SELECT lang_pred AS lab, SUM(n) AS col_n
                    FROM cells GROUP BY 1) c
              USING (lab)
            ), diag AS (
              SELECT CAST(SUM(CASE WHEN lang = lang_pred THEN n
                               ELSE 0 END) AS BIGINT) AS d,
                     CAST(SUM(n) AS BIGINT) AS n_docs
              FROM cells
            )
            SELECT n_docs, d AS n_agree,
                   CAST((CAST(d AS HUGEINT) * 1000000)
                        // n_docs AS BIGINT) AS po_ppm,
                   CAST((s * 1000000)
                        // (CAST(n_docs AS HUGEINT) * n_docs)
                     AS BIGINT) AS pe_ppm,
                   CAST(((CAST(n_docs AS HUGEINT) * d - s) * 1000000)
                        // (CAST(n_docs AS HUGEINT) * n_docs - s)
                     AS BIGINT) AS kappa_ppm
            FROM diag, marg""",
        "text_corpus_drift": f"""
            WITH sliced AS (
              SELECT (doc_id % 2 = 0) AS is_ref, lang,
                     CASE WHEN nt < {DRIFT_TOKEN_BUCKETS[0]}
                            THEN 'lt{DRIFT_TOKEN_BUCKETS[0]}'
                          WHEN nt < {DRIFT_TOKEN_BUCKETS[1]}
                            THEN 'lt{DRIFT_TOKEN_BUCKETS[1]}'
                          WHEN nt < {DRIFT_TOKEN_BUCKETS[2]}
                            THEN 'lt{DRIFT_TOKEN_BUCKETS[2]}'
                          ELSE 'ge{DRIFT_TOKEN_BUCKETS[2]}'
                     END AS bucket
              FROM (SELECT doc_id, lang,
                           {T.token_count_sql('text')} AS nt
                    FROM documents)
            ), cells AS (
              SELECT lang, bucket,
                     CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_ref,
                     CAST(SUM(CASE WHEN is_ref THEN 0 ELSE 1 END)
                       AS BIGINT) AS n_cand
              FROM sliced GROUP BY 1, 2
            ), tot AS (
              SELECT SUM(n_ref) AS tot_ref, SUM(n_cand) AS tot_cand
              FROM cells
            )
            SELECT lang, bucket, n_ref, n_cand,
                   CAST((CAST(n_ref AS HUGEINT) * 1000000)
                        // tot_ref AS BIGINT) AS share_ref_ppm,
                   CAST((CAST(n_cand AS HUGEINT) * 1000000)
                        // tot_cand AS BIGINT) AS share_cand_ppm,
                   abs(CAST((CAST(n_ref AS HUGEINT) * 1000000)
                            // tot_ref AS BIGINT)
                       - CAST((CAST(n_cand AS HUGEINT) * 1000000)
                              // tot_cand AS BIGINT)) AS abs_delta_ppm
            FROM cells, tot""",
        "text_collocations": """
            WITH tok AS (
              SELECT unnest(string_split(lower(text), ' ')) AS t
              FROM documents
            ), uni AS (
              SELECT t, CAST(count(*) AS BIGINT) AS n_t
              FROM tok GROUP BY t
            ), tot AS (
              SELECT CAST(count(*) AS BIGINT) AS n_total FROM tok
            ), bg AS (
              SELECT unnest(list_transform(
                       generate_series(1, len(tok) - 1),
                       i -> concat_ws(' ', tok[i], tok[i + 1]))) AS sh
              FROM (SELECT string_split(lower(text), ' ') AS tok
                    FROM documents)
              WHERE len(tok) >= 2
            ), bgc AS (
              SELECT sh AS bigram, CAST(count(*) AS BIGINT) AS n_ab
              FROM bg GROUP BY sh
            ), scored AS (
              SELECT bigram, n_ab, ua.n_t AS n_a, ub.n_t AS n_b,
                     CAST((CAST(n_ab AS HUGEINT) * n_total * 1000000)
                          // (CAST(ua.n_t AS HUGEINT) * ub.n_t)
                          AS BIGINT) AS lift_ppm
              FROM bgc
              JOIN uni ua ON split_part(bigram, ' ', 1) = ua.t
              JOIN uni ub ON split_part(bigram, ' ', 2) = ub.t
              CROSS JOIN tot
            )
            SELECT bigram, n_ab, n_a, n_b, lift_ppm, rk FROM (
              SELECT *, row_number() OVER
                     (ORDER BY lift_ppm DESC, bigram ASC) AS rk
              FROM scored
            ) WHERE rk <= 20""",
        "pipeline_redaction": f"""
            WITH per AS (
              SELECT source,
                     CAST(len(regexp_extract_all(text,
                       '{REDACT_PATTERN}')) AS BIGINT) AS spans,
                     CAST({T.token_count_sql('text')} AS BIGINT) AS toks,
                     {H.portable_hash_sql(
                         "regexp_replace(text, '" + REDACT_PATTERN
                         + "', '" + REDACT_TOKEN + "', 'g')")} AS h
              FROM documents)
            SELECT source, count(*) AS n_docs,
                   CAST(SUM(CASE WHEN spans > 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS docs_touched,
                   CAST(SUM(spans) AS BIGINT) AS spans_total,
                   CAST(SUM(toks) AS BIGINT) AS tokens_total,
                   bit_xor(h) AS redacted_xor,
                   CAST((SUM(spans) * 1000000) // SUM(toks) AS BIGINT)
                     AS redacted_ppm
            FROM per GROUP BY source""",
        "j4_fuzzy_names": """
            WITH names AS (
              SELECT p_name AS name,
                     CAST(count(*) AS BIGINT) AS n_parts
              FROM part GROUP BY 1)
            SELECT a.name AS name_a, b.name AS name_b,
                   a.n_parts AS n_a, b.n_parts AS n_b,
                   CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
            FROM names a JOIN names b
              ON split_part(a.name, ' ', 1) = split_part(b.name, ' ', 1)
             AND a.name < b.name
            WHERE levenshtein(a.name, b.name) <= 3""",
        "text_fingerprint": f"""
            SELECT doc_id, {H.fingerprint_sql('text')} AS fp
            FROM documents""",
        "text_winnow": f"""
            SELECT doc_id, unnest({T.winnow_fingerprints_sql('text')}) AS fp
            FROM documents""",
        "aj1_asof_clicks": """
            WITH u AS (
              SELECT user_id, ts, 1 AS is_l, CAST(-1 AS BIGINT) AS ord,
                     event_id,
                     CAST(NULL AS BIGINT) AS r_event_id,
                     CAST(NULL AS DOUBLE) AS r_value
              FROM events WHERE event_type = 'purchase'
              UNION ALL
              SELECT user_id, ts, 0, event_id,
                     CAST(NULL AS BIGINT), event_id, value
              FROM events WHERE event_type = 'click'
            ), w AS (
              SELECT user_id, ts, is_l, event_id,
                     last_value(r_event_id IGNORE NULLS) OVER win AS click_id,
                     last_value(r_value IGNORE NULLS) OVER win AS click_value,
                     last_value(CASE WHEN is_l = 0 THEN ts END IGNORE NULLS)
                       OVER win AS m_ts
              FROM u
              WINDOW win AS (PARTITION BY user_id ORDER BY ts, is_l, ord
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW)
            )
            SELECT event_id AS purchase_id, user_id, click_id, click_value,
                   epoch_us(ts) - epoch_us(m_ts) AS gap_us
            FROM w WHERE is_l = 1""",
        # aj1 + the tolerance predicate: stale matches null out, the
        # left row survives.
        "aj2_asof_tolerance": """
            WITH u AS (
              SELECT user_id, ts, 1 AS is_l, CAST(-1 AS BIGINT) AS ord,
                     event_id,
                     CAST(NULL AS BIGINT) AS r_event_id,
                     CAST(NULL AS DOUBLE) AS r_value
              FROM events WHERE event_type = 'purchase'
              UNION ALL
              SELECT user_id, ts, 0, event_id,
                     CAST(NULL AS BIGINT), event_id, value
              FROM events WHERE event_type = 'click'
            ), w AS (
              SELECT user_id, ts, is_l, event_id,
                     last_value(r_event_id IGNORE NULLS) OVER win AS click_id,
                     last_value(r_value IGNORE NULLS) OVER win AS click_value,
                     last_value(CASE WHEN is_l = 0 THEN ts END IGNORE NULLS)
                       OVER win AS m_ts
              FROM u
              WINDOW win AS (PARTITION BY user_id ORDER BY ts, is_l, ord
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW)
            ), f AS (
              SELECT user_id, ts, is_l, event_id,
                     CASE WHEN m_ts >= ts - INTERVAL 2 HOURS
                          THEN click_id END AS click_id,
                     CASE WHEN m_ts >= ts - INTERVAL 2 HOURS
                          THEN click_value END AS click_value,
                     CASE WHEN m_ts >= ts - INTERVAL 2 HOURS
                          THEN m_ts END AS m_ts
              FROM w
            )
            SELECT event_id AS purchase_id, user_id, click_id, click_value,
                   epoch_us(ts) - epoch_us(m_ts) AS gap_us
            FROM f WHERE is_l = 1""",
        "text_chunk_windows": """
            WITH toks AS (
              SELECT doc_id, string_split(lower(text), ' ') AS tk
              FROM documents
            ), st AS (
              SELECT doc_id, tk, i,
                     CAST((i - 1) // 24 AS INT) AS chunk_idx
              FROM toks,
                   unnest(generate_series(1,
                     greatest(len(tk) - 8 + 1, 1), 24)) AS t(i)
            ), ch AS (
              SELECT doc_id, chunk_idx, tk[i : i + 31] AS chunk
              FROM st
            )
            SELECT doc_id, chunk_idx,
                   CAST(len(chunk) AS INT) AS n_tokens,
                   md5(array_to_string(chunk, ' ')) AS chunk_fp
            FROM ch WHERE len(chunk) >= 8""",
        "pipeline_chunk_dedup": """
            WITH toks AS (
              SELECT doc_id, string_split(lower(text), ' ') AS tk
              FROM documents
            ), st AS (
              SELECT doc_id, tk, i,
                     CAST((i - 1) // 24 AS INT) AS chunk_idx
              FROM toks,
                   unnest(generate_series(1,
                     greatest(len(tk) - 8 + 1, 1), 24)) AS t(i)
            ), ch AS (
              SELECT doc_id, chunk_idx,
                     md5(array_to_string(tk[i : i + 31], ' ')) AS chunk_fp
              FROM st WHERE len(tk[i : i + 31]) >= 8
            ), fp AS (
              SELECT chunk_fp, count(*) AS copies,
                     min(struct_pack(d := doc_id, i := chunk_idx)) AS keeper
              FROM ch GROUP BY chunk_fp
            )
            SELECT c.doc_id, count(*) AS n_chunks,
                   CAST(SUM(CASE WHEN fp.copies > 1 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_dup_chunks,
                   CAST(SUM(CASE WHEN fp.copies > 1
                            AND (fp.keeper).d = c.doc_id
                            AND (fp.keeper).i = c.chunk_idx
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_dups
            FROM ch c JOIN fp USING (chunk_fp)
            GROUP BY c.doc_id""",
        "sample_bernoulli_hash": f"""
            SELECT lang, count(*) AS n_sampled,
                   CAST(SUM({T.token_count_sql('text')}) AS BIGINT)
                     AS tokens_sampled,
                   min(doc_id) AS first_id, max(doc_id) AS last_id
            FROM documents
            WHERE CAST(concat('0x', substr(md5(concat('bern7:',
                    CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 8 = 0
            GROUP BY lang""",
        "w3_sessions": f"""
            WITH o AS (
              SELECT user_id, ts, value, event_id,
                     CASE WHEN lag(ts) OVER win IS NULL
                          OR ts - lag(ts) OVER win
                             > INTERVAL {SESSION_GAP_MIN} MINUTES
                          THEN 1 ELSE 0 END AS is_new
              FROM events
              WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), s AS (
              SELECT user_id, ts, value,
                     SUM(is_new) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS sid
              FROM o
            )
            SELECT user_id, epoch_us(min(ts)) AS session_start_us,
                   count(*) AS n_events, {_dsum_sql('value')} AS sum_value
            FROM s GROUP BY user_id, sid""",
        "agg_percentiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.25), 6) AS p25,
                   round(quantile_cont(value, 0.5), 6) AS p50,
                   round(quantile_cont(value, 0.9), 6) AS p90,
                   count(*) AS n
            FROM events GROUP BY event_type""",
        "sketch_hll_users": f"""
            WITH est AS (
              {K.hll_count_distinct_sql('events', ['event_type'], 'user_id',
                                        seed=HLL_SEED)}
            ), ex AS (
              SELECT event_type, count(DISTINCT user_id) AS n_exact
              FROM events GROUP BY event_type
            )
            SELECT ex.event_type, n_exact, n_hll
            FROM ex JOIN est USING (event_type)""",
        "sim_ann_ivf": _ann_ivf_oracle(),
        "h2_above_avg": """
            SELECT o_orderkey, o_custkey, o_totalprice FROM (
              SELECT o_orderkey, o_custkey, o_totalprice,
                     count(*) OVER (PARTITION BY o_custkey) AS n,
                     SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                       OVER (PARTITION BY o_custkey) AS tot
              FROM orders
            ) WHERE CAST(o_totalprice AS DECIMAL(18,2)) * n > tot""",
        "h10_returned": """
            SELECT c_custkey, c_name, n_name AS nation,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                     * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                     AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
            GROUP BY c_custkey, c_name, n_name
            ORDER BY revenue DESC, c_custkey ASC
            LIMIT 20""",
        "set2_intersect": """
            SELECT count(*) AS n_both FROM (
              SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
              INTERSECT
              SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
            )""",
        "u1_union": f"""
            SELECT src, count(*) AS n, {_dsum_sql('value')} AS sum_value,
                   min(event_id) AS min_id
            FROM (
              SELECT 'big_purchase' AS src, event_id, value FROM events
              WHERE event_type = 'purchase' AND value > 500
              UNION ALL
              SELECT 'error' AS src, event_id, value FROM events
              WHERE event_type = 'error'
            ) GROUP BY src""",
        "r2_cube": f"""
            SELECT coalesce(event_type, 'ALL') AS event_type,
                   coalesce(CAST(dow AS VARCHAR), 'ALL') AS dow,
                   count(*) AS n, {_dsum_sql('value')} AS sum_value
            FROM (SELECT event_type, CAST(dayofweek(ts) AS INT) AS dow, value
                  FROM events)
            GROUP BY CUBE(event_type, dow)""",
        "w4_rolling": """
            SELECT event_id, user_id, value,
                   lag(value, 1) OVER win AS prev_value,
                   lead(value, 1) OVER win AS next_value,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
                     PARTITION BY user_id ORDER BY event_id
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
                     AS roll_sum7,
                   count(*) OVER (
                     PARTITION BY user_id ORDER BY event_id
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS roll_n7
            FROM events
            WINDOW win AS (PARTITION BY user_id ORDER BY event_id)""",
        "rj1_follow_pairs": f"""
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   count(*) AS n_pairs,
                   max(epoch_us(b.ts) - epoch_us(a.ts)) AS max_gap_us
            FROM events a JOIN events b
              ON a.user_id = b.user_id
             AND b.ts >= a.ts
             AND b.ts <= a.ts + INTERVAL {FOLLOW_WINDOW_MIN} MINUTES
             AND a.event_id <> b.event_id
            GROUP BY 1, 2""",
        "agg_stats": """
            WITH g AS (
              SELECT event_type, count(*) AS n,
                     SUM(CAST(value AS DECIMAL(18,2))) AS sx,
                     SUM(CAST(value AS DECIMAL(18,2))
                         * CAST(value AS DECIMAL(18,2))) AS sxx,
                     SUM(CAST(user_id AS DECIMAL(18,0))) AS su,
                     SUM(CAST(user_id AS DECIMAL(18,0))
                         * CAST(user_id AS DECIMAL(18,0))) AS suu,
                     SUM(CAST(value AS DECIMAL(18,2))
                         * CAST(user_id AS DECIMAL(18,0))) AS sxu
              FROM events GROUP BY event_type
            )
            SELECT event_type, n,
                   CAST((CAST(sx * 100 AS HUGEINT) * 1000000)
                        // (CAST(n AS HUGEINT) * 100) AS BIGINT) AS mean_v_ppm,
                   round(sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                              / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))),
                         6) AS stddev_v,
                   round((CAST(n AS DOUBLE) * CAST(sxu AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(su AS DOUBLE))
                         / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                            * sqrt(CAST(n AS DOUBLE) * CAST(suu AS DOUBLE)
                                   - CAST(su AS DOUBLE) * CAST(su AS DOUBLE))),
                         6) AS corr_vu
            FROM g""",
        "text_bigrams": """
            WITH t AS (
              SELECT string_split(lower(text), ' ') AS toks FROM documents
            ), b AS (
              SELECT unnest(list_transform(
                       generate_series(1, greatest(len(toks) - 1, 0)),
                       i -> concat_ws(' ', toks[i], toks[i + 1]))) AS bigram
              FROM t
            )
            SELECT bigram, count(*) AS n FROM b
            GROUP BY bigram ORDER BY n DESC, bigram ASC LIMIT 20""",
        "j2_full_outer": """
            SELECT coalesce(e.user_id, c.c_custkey) AS uid,
                   coalesce(e.n_events, 0) AS n_events,
                   c.c_custkey IS NOT NULL AS is_customer,
                   coalesce(c.c_mktsegment, 'NONE') AS segment
            FROM (SELECT user_id, count(*) AS n_events
                  FROM events GROUP BY user_id) e
            FULL OUTER JOIN customer c ON e.user_id = c.c_custkey""",
        "text_bm25_topk": _bm25_oracle(),
        "text_tfidf": f"""
            WITH terms AS (
              SELECT doc_id,
                     unnest(list_distinct(string_split(lower(text), ' ')))
                       AS term
              FROM documents
            ), dfc AS (
              SELECT term, count(*) AS df FROM terms GROUP BY term
            )
            SELECT term, df,
                   round(ln(((SELECT count(*) FROM documents) + 1.0)
                            / (df + 1.0)), 6) AS idf
            FROM dfc ORDER BY df DESC, term ASC LIMIT {TFIDF_TOP}""",
        "sample_stratified": f"""
            SELECT source, count(*) AS n_total,
                   SUM(CASE WHEN
                     {H.portable_hash_sql('CAST(doc_id AS VARCHAR)', seed=SAMPLE_SEED)}
                       % 1000 <
                     CASE source WHEN 'src0' THEN {SAMPLE_RATE_PER_MILLE['src0']}
                                 WHEN 'src1' THEN {SAMPLE_RATE_PER_MILLE['src1']}
                                 ELSE 500 END
                     THEN 1 ELSE 0 END) AS n_kept
            FROM documents GROUP BY source""",
        "sample_weighted": f"""
            SELECT l_returnflag, count(*) AS n_total,
                   SUM(CASE WHEN
                     {H.portable_hash_sql("concat(CAST(l_orderkey AS VARCHAR), '-', CAST(l_linenumber AS VARCHAR))", seed=11)}
                       % 1000 <
                     least(CAST(l_quantity AS BIGINT) * 20, 1000)
                     THEN 1 ELSE 0 END) AS n_kept,
                   CAST(SUM(CASE WHEN
                     {H.portable_hash_sql("concat(CAST(l_orderkey AS VARCHAR), '-', CAST(l_linenumber AS VARCHAR))", seed=11)}
                       % 1000 <
                     least(CAST(l_quantity AS BIGINT) * 20, 1000)
                     THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT)
                     AS qty_kept
            FROM lineitem GROUP BY l_returnflag""",
        "w5_rank_suite": """
            SELECT o_orderkey, o_orderpriority,
                   CAST(rank() OVER win AS INT) AS rnk,
                   CAST(dense_rank() OVER win AS INT) AS drnk,
                   CAST(ntile(4) OVER win AS INT) AS quartile,
                   CAST(CASE WHEN count(*) OVER p = 1 THEN 0
                        ELSE (CAST(rank() OVER win - 1 AS HUGEINT) * 1000000)
                             // CAST(count(*) OVER p - 1 AS HUGEINT)
                        END AS BIGINT) AS prank_ppm,
                   CAST((CAST(rank() OVER win AS HUGEINT) * 1000000)
                        // CAST(count(*) OVER p AS HUGEINT)
                        AS BIGINT) AS cdist_ppm
            FROM orders
            WINDOW win AS (PARTITION BY o_orderpriority
                           ORDER BY o_totalprice DESC, o_orderkey ASC),
                   p AS (PARTITION BY o_orderpriority)""",
        "pv1_pivot": """
            SELECT CAST(dayofweek(ts) AS INT) AS dow,
                   SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n_click,
                   SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS n_view,
                   SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_purchase,
                   SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS n_signup,
                   SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS n_error
            FROM events GROUP BY 1""",
        "emb_centroids": """
            WITH ex AS (
              SELECT label,
                     unnest(generate_series(0, len(embedding) - 1)) AS pos,
                     unnest(list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)))
                       AS vmicro
              FROM embeddings
            )
            SELECT label, CAST(pos AS INT) AS pos, count(*) AS n,
                   CAST(floor(CAST(SUM(vmicro) AS DOUBLE) / count(*))
                        AS BIGINT) AS centroid_micro
            FROM ex GROUP BY label, pos""",
        "ts_rollup": f"""
            SELECT coalesce(day, 'ALL') AS day,
                   coalesce(hour, 'ALL') AS hour,
                   coalesce(minute, 'ALL') AS minute,
                   count(*) AS n, {_dsum_sql('value')} AS sum_value
            FROM (SELECT strftime(ts, '%Y-%m-%d') AS day,
                         strftime(ts, '%H') AS hour,
                         strftime(ts, '%M') AS minute, value
                  FROM events)
            GROUP BY ROLLUP(day, hour, minute)""",
        "dedup_incremental": f"""
            WITH fp AS (
              SELECT doc_id, lang,
                     CAST(substr(source, 4) AS INT) AS src_num,
                     {H.fingerprint_sql('text')} AS fp
              FROM documents
            )
            SELECT lang, count(*) AS n_new, min(doc_id) AS min_id
            FROM fp n
            WHERE n.src_num >= 10
              AND NOT EXISTS (SELECT 1 FROM fp c
                              WHERE c.src_num < 10 AND c.fp = n.fp)
            GROUP BY lang""",
        "skew_salted_agg": f"""
            SELECT event_type, count(*) AS n,
                   {_dsum_sql('value')} AS sum_value,
                   max(event_id) AS max_id
            FROM events GROUP BY event_type""",
        "math_suite": """
            SELECT event_id,
                   abs(value - 500) AS abs_c,
                   CAST(ceil(value / 10) AS BIGINT) AS ceil_d,
                   CAST(floor(value / 10) AS BIGINT) AS floor_d,
                   CAST(sign(value - 500) AS INT) AS sign_c,
                   round(sqrt(value), 6) AS sqrt_v,
                   value * value AS sq,
                   greatest(value, 250.0) AS hi,
                   least(value, 750.0) AS lo,
                   CASE WHEN value >= 500 THEN 'hi' ELSE 'lo' END AS band,
                   nullif(event_type, 'error') AS nn_type,
                   user_id % 10 AS mod10
            FROM events""",
        "agg_argmax": """
            SELECT user_id,
                   arg_max(event_type, event_id) AS last_type,
                   arg_min(event_type, event_id) AS first_type,
                   max(event_id) AS last_id,
                   count(*) AS n
            FROM events GROUP BY user_id""",
        "agg_collect_ordered": """
            SELECT user_id,
                   list(event_type ORDER BY event_id) AS types_in_order,
                   count(*) AS n
            FROM events WHERE user_id < 100 GROUP BY user_id""",
        "w6_trailing_range": """
            SELECT o_orderkey, o_orderpriority,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER win
                        AS DOUBLE) AS trail30_total,
                   count(*) OVER win AS trail30_n
            FROM orders
            WINDOW win AS (PARTITION BY o_orderpriority
                           ORDER BY date_diff('day', DATE '1970-01-01',
                                              CAST(o_orderdate AS DATE))
                           RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)""",
        "h8_market_share": f"""
            SELECT o_year,
                   CAST(nation_rev AS DOUBLE) AS nation_rev,
                   CAST(total_rev AS DOUBLE) AS total_rev,
                   CAST((CAST(nation_rev * 10000 AS HUGEINT) * 1000000)
                        // CAST(total_rev * 10000 AS HUGEINT)
                        AS BIGINT) AS mkt_share_ppm
            FROM (
              SELECT CAST(year(o_orderdate) AS INT) AS o_year,
                     SUM(CASE WHEN sn.n_name = 'NATION_3'
                       THEN {_DP_SQL} ELSE CAST(0 AS DECIMAL(18,2)) END)
                       AS nation_rev,
                     SUM({_DP_SQL}) AS total_rev
              FROM lineitem
              JOIN orders   ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              JOIN nation cn ON c_nationkey = cn.n_nationkey
              JOIN region   ON cn.n_regionkey = r_regionkey
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation sn ON s_nationkey = sn.n_nationkey
              WHERE r_name = 'ASIA'
              GROUP BY 1
            )""",
        "h12_late_ship": """
            SELECT o_orderpriority, n_late, n_total,
                   CAST((CAST(n_late AS HUGEINT) * 1000000)
                        // CAST(n_total AS HUGEINT) AS BIGINT) AS late_ppm
            FROM (
              SELECT o_orderpriority,
                     SUM(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                                             CAST(l_shipdate AS DATE)) > 60
                         THEN 1 ELSE 0 END) AS n_late,
                     count(*) AS n_total
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              GROUP BY o_orderpriority
            )""",
        "h14_promo": f"""
            SELECT ship_year,
                   CAST(promo_rev * 10000 AS BIGINT) AS promo_rev_e4,
                   CAST(total_rev * 10000 AS BIGINT) AS total_rev_e4,
                   CAST((CAST(promo_rev * 10000 AS HUGEINT) * 1000000)
                        // CAST(total_rev * 10000 AS HUGEINT)
                        AS BIGINT) AS promo_share_ppm
            FROM (
              SELECT CAST(year(l_shipdate) AS INT) AS ship_year,
                     SUM(CASE WHEN p_type = 'PROMO'
                       THEN {_DP_SQL} ELSE CAST(0 AS DECIMAL(18,2)) END)
                       AS promo_rev,
                     SUM({_DP_SQL}) AS total_rev
              FROM lineitem JOIN part ON l_partkey = p_partkey
              GROUP BY 1
            )""",
        "h18_big_orders": f"""
            SELECT c_custkey, c_name, o_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
                   o_totalprice, total_qty
            FROM (
              SELECT l_orderkey,
                     CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                       AS total_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                     >= {H18_QTY_THRESHOLD}
            ) big
            JOIN orders   ON o_orderkey = big.l_orderkey
            JOIN customer ON o_custkey = c_custkey""",
        "h19_disjunctive": f"""
            SELECT count(*) AS n,
                   CAST(SUM({_DP_SQL}) AS DOUBLE) AS revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#4' AND p_size <= 10
                   AND l_quantity BETWEEN 1 AND 20)
               OR (p_brand = 'Brand#19' AND p_size <= 20
                   AND l_quantity BETWEEN 10 AND 30)
               OR (p_type = 'PROMO' AND l_quantity >= 25)""",
        "h22_idle_rich": f"""
            WITH pos AS (
              SELECT count(*) AS n_pos,
                     SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS sum_pos
              FROM customer WHERE c_acctbal > 0
            )
            SELECT cn.n_name AS nation, count(*) AS n_custs,
                   round(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2)))
                              AS DOUBLE), 2) AS total_bal
            FROM customer c, pos
            JOIN nation cn ON c.c_nationkey = cn.n_nationkey
            WHERE CAST(c_acctbal AS DECIMAL(18,2)) * pos.n_pos > pos.sum_pos
              AND NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c.c_custkey
                                AND CAST(o_orderdate AS DATE)
                                    >= DATE '{H22_CUTOFF}')
            GROUP BY 1""",
        "w7_hopping": f"""
            SELECT strftime(ws, '%Y-%m-%d %H:%M') AS win_start, event_type,
                   count(*) AS n, {_dsum_sql('value')} AS sum_value
            FROM (
              SELECT time_bucket(INTERVAL '30 minutes', ts) AS ws,
                     event_type, value
              FROM events
              UNION ALL
              SELECT time_bucket(INTERVAL '30 minutes', ts)
                       - INTERVAL '30 minutes' AS ws,
                     event_type, value
              FROM events
            ) GROUP BY 1, 2""",
        # PII scrub: both engines build byte-identical injected text,
        # then count/redact with the shared Java-regex/RE2 subset.
        # DuckDB regexp_replace needs the 'g' flag (Spark replaces all
        # matches by default); counts via length(regexp_extract_all).
        "text_pii_scrub": """
            WITH injected AS (
              SELECT source,
                     text ||
                     CASE WHEN doc_id % 7 = 0
                          THEN ' contact user' || CAST(doc_id AS VARCHAR)
                               || '@example.com' ELSE '' END ||
                     CASE WHEN doc_id % 11 = 0
                          THEN ' call 555-'
                               || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                               || '-'
                               || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                          ELSE '' END ||
                     CASE WHEN doc_id % 13 = 0
                          THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                               || '.' || CAST((doc_id // 256) % 256 AS VARCHAR)
                               || '.' || CAST((doc_id // 65536) % 256 AS VARCHAR)
                          ELSE '' END AS txt
              FROM documents
            ), counted AS (
              SELECT source, length(txt) AS raw_len,
                     length(regexp_extract_all(txt,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                       AS n_email,
                     length(regexp_extract_all(txt,
                       '\\d{3}-\\d{3}-\\d{4}')) AS n_phone,
                     length(regexp_extract_all(txt,
                       '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))
                       AS n_ip,
                     length(regexp_replace(regexp_replace(regexp_replace(
                       txt,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                       '\\d{3}-\\d{3}-\\d{4}', '<PHONE>', 'g'),
                       '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
                       '<IP>', 'g')) AS red_len
              FROM injected
            )
            SELECT source, count(*) AS n_docs,
                   CAST(SUM(n_email) AS BIGINT) AS emails,
                   CAST(SUM(n_phone) AS BIGINT) AS phones,
                   CAST(SUM(n_ip) AS BIGINT) AS ips,
                   CAST(SUM(CASE WHEN n_email + n_phone + n_ip > 0
                            THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
                   CAST(SUM(CAST(raw_len AS HUGEINT)) AS BIGINT)
                     AS raw_chars,
                   CAST(SUM(CAST(red_len AS HUGEINT)) AS BIGINT)
                     AS redacted_chars
            FROM counted GROUP BY source""",
        "pack_shard_manifest": f"""
            WITH tiled AS (
              SELECT doc_id, n_chars,
                     CAST(ntile({SHARD_N}) OVER (
                       ORDER BY lang ASC, n_chars DESC, doc_id ASC
                     ) AS INT) AS shard
              FROM documents
            )
            SELECT shard, count(*) AS n_docs,
                   min(doc_id) AS first_doc, max(doc_id) AS last_doc,
                   CAST(SUM(CAST(n_chars AS HUGEINT)) AS BIGINT)
                     AS sum_chars
            FROM tiled GROUP BY shard""",
        "agg_benford": f"""
            WITH cents AS (
              SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                          AS BIGINT) AS cents
              FROM orders
            ), d AS (
              SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT)
                       AS first_digit,
                     count(*) AS n
              FROM cents WHERE cents > 0 GROUP BY 1
            ), tot AS (
              SELECT CAST(SUM(CAST(n AS HUGEINT)) AS HUGEINT) AS t FROM d
            )
            SELECT first_digit, n,
                   CAST((CAST(n AS HUGEINT) * 1000000) // t AS BIGINT)
                     AS observed_ppm,
                   CAST(CASE first_digit
                     {" ".join(f"WHEN {d} THEN {p}" for d, p in BENFORD_PPM)}
                   END AS BIGINT) AS expected_ppm,
                   CAST(abs(CAST((CAST(n AS HUGEINT) * 1000000) // t
                              AS BIGINT)
                            - CASE first_digit
                              {" ".join(f"WHEN {d} THEN {p}"
                                        for d, p in BENFORD_PPM)}
                              END) AS BIGINT) AS deviation_ppm
            FROM d CROSS JOIN tot""",
        "pipeline_curriculum": f"""
            WITH scored AS (
              SELECT doc_id, n_tokens, q_ppm, __h,
                     CASE WHEN q_ppm >= {CURRICULUM_TIER_CUTS_PPM[0]} THEN 1
                          WHEN q_ppm >= {CURRICULUM_TIER_CUTS_PPM[1]} THEN 2
                          WHEN q_ppm >= {CURRICULUM_TIER_CUTS_PPM[2]} THEN 3
                          ELSE 4 END AS tier
              FROM (
                SELECT doc_id,
                       {T.token_count_sql('text')} AS n_tokens,
                       {T.quality_ppm_sql('text')} AS q_ppm,
                       {H.portable_hash_sql('CAST(doc_id AS VARCHAR)',
                                            seed=CURRICULUM_SEED)} AS __h
                FROM documents
              )
            ), ranked AS (
              SELECT tier, n_tokens, q_ppm, __h,
                     row_number() OVER (
                       ORDER BY tier ASC, __h ASC, doc_id ASC
                     ) AS position
              FROM scored
            )
            SELECT tier, count(*) AS n_docs,
                   CAST(min(position) AS BIGINT) AS first_pos,
                   CAST(max(position) AS BIGINT) AS last_pos,
                   CAST(SUM(CAST(n_tokens AS HUGEINT)) AS BIGINT)
                     AS sum_tokens,
                   CAST(min(q_ppm) AS BIGINT) AS min_quality_ppm,
                   CAST(max(q_ppm) AS BIGINT) AS max_quality_ppm,
                   CAST(SUM((CAST(position AS HUGEINT) * __h) % 1000003)
                        AS BIGINT) AS order_checksum
            FROM ranked GROUP BY tier""",
        "text_vocab_coverage": f"""
            WITH counts AS (
              SELECT token, count(*) AS n FROM (
                SELECT unnest(string_split(lower(text), ' ')) AS token
                FROM documents
              ) WHERE length(token) >= 1 GROUP BY token
            ), ranked AS (
              SELECT n, row_number() OVER (
                       ORDER BY n DESC, token ASC) AS rank
              FROM counts
            ), agg AS (
              SELECT CAST(SUM(CAST(n AS HUGEINT)) AS HUGEINT) AS tot,
                     count(*) AS vocab
              FROM ranked
            ), ks AS (
              SELECT * FROM (VALUES
                {", ".join(f"({k})" for k in VOCAB_COVERAGE_KS)}) t(k)
            )
            SELECT CAST(k AS INT) AS top_k,
                   CAST(coalesce(SUM(CASE WHEN rank <= k
                          THEN CAST(n AS HUGEINT) END), 0) AS BIGINT)
                     AS covered_tokens,
                   CAST((coalesce(SUM(CASE WHEN rank <= k
                          THEN CAST(n AS HUGEINT) END), 0) * 1000000)
                        // (SELECT tot FROM agg) AS BIGINT)
                     AS covered_ppm,
                   CAST((SELECT vocab FROM agg) AS BIGINT) AS vocab_size
            FROM ks LEFT JOIN ranked ON TRUE GROUP BY k""",
        "ts_seasonal_dow": """
            WITH cells AS (
              SELECT event_type,
                     CAST((epoch_us(ts) // 86400000000) % 7 AS INT)
                       AS day_idx,
                     count(*) AS n,
                     SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                              AS HUGEINT)) AS s
              FROM events GROUP BY 1, 2
            ), tots AS (
              SELECT event_type, count(*) AS n_total,
                     SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                              AS HUGEINT)) AS st
              FROM events GROUP BY 1
            )
            SELECT c.event_type, c.day_idx, c.n,
                   CAST((c.s * 1000000)
                        // (CAST(c.n AS HUGEINT) * 100) AS BIGINT)
                     AS mean_value_ppm,
                   CAST((c.s * t.n_total * 1000000)
                        // (CAST(c.n AS HUGEINT) * t.st) AS BIGINT)
                     AS seasonal_ppm
            FROM cells c JOIN tots t USING (event_type)""",
        "evt_burstiness": """
            WITH gaps AS (
              SELECT user_id,
                     epoch_us(ts) - lag(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                     ) AS gap_us
              FROM events
            ), agg AS (
              SELECT user_id, count(*) AS n_gaps,
                     SUM(CAST(gap_us AS HUGEINT)) AS si,
                     CAST(SUM(CAST(gap_us AS HUGEINT)) AS DOUBLE) AS s,
                     CAST(SUM(CAST(gap_us AS HUGEINT)
                              * CAST(gap_us AS HUGEINT)) AS DOUBLE) AS q
              FROM gaps WHERE gap_us IS NOT NULL GROUP BY user_id
            )
            SELECT user_id, n_gaps,
                   CAST(si // n_gaps AS BIGINT) AS mean_gap_us,
                   round(sqrt(greatest(
                           (q - s * s / n_gaps) / n_gaps, 0.0))
                         / (s / n_gaps), 6) AS cv
            FROM agg WHERE n_gaps >= 5""",
        "agg_winsorized_mean": """
            WITH bounds AS (
              SELECT o_orderpriority,
                     count(*) AS n,
                     SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS raw_sum,
                     quantile_cont(o_totalprice, 0.05) AS lo,
                     quantile_cont(o_totalprice, 0.95) AS hi
              FROM orders GROUP BY o_orderpriority
            )
            SELECT o.o_orderpriority,
                   max(b.n) AS n,
                   round(max(b.lo), 6) AS p05,
                   round(max(b.hi), 6) AS p95,
                   CAST((CAST(max(b.raw_sum) * 100 AS HUGEINT) * 1000000)
                        // (CAST(max(b.n) AS HUGEINT) * 100) AS BIGINT)
                     AS mean_raw_ppm,
                   CAST((CAST(SUM(CAST(round(least(greatest(
                             o.o_totalprice, b.lo), b.hi), 6)
                           AS DECIMAL(18,6))) * 1000000 AS HUGEINT)
                         * 1000000)
                        // (CAST(max(b.n) AS HUGEINT) * 1000000)
                        AS BIGINT)
                     AS mean_winsorized_ppm
            FROM orders o JOIN bounds b USING (o_orderpriority)
            GROUP BY o.o_orderpriority""",
        "dedup_cross_source_matrix": f"""
            WITH cnt AS (
              SELECT fp, source, count(*) AS n FROM (
                SELECT source,
                       unnest({T.winnow_fingerprints_sql('text')}) AS fp
                FROM documents
              ) GROUP BY 1, 2
            ), pairs AS (
              SELECT a.source AS src_a, b.source AS src_b,
                     CASE WHEN a.source = b.source
                          THEN (CAST(a.n AS HUGEINT) * (a.n - 1)) // 2
                          ELSE CAST(a.n AS HUGEINT) * b.n END AS dp
              FROM cnt a JOIN cnt b USING (fp)
              WHERE a.source <= b.source
            )
            SELECT src_a, src_b, count(*) AS n_shared_fps,
                   CAST(SUM(dp) AS BIGINT) AS overlap_weight
            FROM pairs WHERE dp > 0 GROUP BY 1, 2""",
        "evt_time_to_convert": """
            WITH s AS (
              SELECT user_id, min(epoch_us(ts)) AS signup_us
              FROM events WHERE event_type = 'signup'
              GROUP BY user_id
            ), c AS (
              SELECT e.user_id, min(epoch_us(e.ts)) AS conv_us
              FROM events e JOIN s USING (user_id)
              WHERE e.event_type = 'purchase'
                AND epoch_us(e.ts) >= s.signup_us
              GROUP BY e.user_id
            ), gaps AS (
              SELECT CAST(signup_us // (86400000000 * 7) AS INT)
                       AS cohort_week,
                     conv_us - signup_us AS gap_us
              FROM s JOIN c USING (user_id)
            )
            , ranked AS (
              SELECT cohort_week, gap_us,
                     row_number() OVER (
                       PARTITION BY cohort_week ORDER BY gap_us
                     ) AS rk,
                     count(*) OVER (
                       PARTITION BY cohort_week) AS n
              FROM gaps
            )
            SELECT cohort_week, CAST(max(n) AS BIGINT) AS n_converted,
                   CAST(SUM(CAST(gap_us AS HUGEINT)) // count(*)
                        AS BIGINT) AS mean_gap_us,
                   max(CASE WHEN rk = (n + 1) // 2
                            THEN gap_us END) AS p50_gap_us,
                   max(CASE WHEN rk = (9 * n + 9) // 10
                            THEN gap_us END) AS p90_gap_us
            FROM ranked GROUP BY cohort_week""",
        "multimodal_pack_budget": f"""
            WITH media AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 2 = 0 THEN 'image/stub'
                          ELSE 'audio/stub' END AS media_type,
                     octet_length(encode(text)) AS byte_len
              FROM documents
            ), packed AS (
              SELECT media_type, doc_id, byte_len,
                     CAST(floor((SUM(byte_len) OVER (
                         PARTITION BY media_type ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) - byte_len)
                       / {MM_PACK_BUDGET}.0) AS BIGINT) AS batch_id
              FROM media
            )
            SELECT media_type, batch_id, count(*) AS n_items,
                   CAST(SUM(CAST(byte_len AS HUGEINT)) AS BIGINT)
                     AS total_bytes,
                   min(doc_id) AS first_doc, max(doc_id) AS last_doc
            FROM packed GROUP BY 1, 2""",
        "pack_epoch_shuffle": f"""
            WITH e AS (
              SELECT doc_id, epoch
              FROM documents,
                   (SELECT unnest([{", ".join(str(e) for e in
                                    range(EPOCH_SHUFFLE_N))}]) AS epoch)
            ), h AS (
              SELECT doc_id, epoch,
                     {H.portable_hash_sql(
                         "concat(CAST(epoch AS VARCHAR), ':',"
                         " CAST(doc_id AS VARCHAR))",
                         seed=EPOCH_SHUFFLE_SEED)} AS hh
              FROM e
            ), pos AS (
              SELECT doc_id, epoch, hh,
                     row_number() OVER (
                       PARTITION BY epoch ORDER BY hh, doc_id
                     ) AS position
              FROM h
            ), fx AS (
              SELECT a.epoch, count(*) AS n_fixed
              FROM pos a JOIN pos b
                ON a.doc_id = b.doc_id AND b.epoch = a.epoch - 1
               AND a.position = b.position
              GROUP BY a.epoch
            )
            SELECT p.epoch, count(*) AS n_docs,
                   CAST(min(position) AS BIGINT) AS first_pos,
                   CAST(max(position) AS BIGINT) AS last_pos,
                   CAST(SUM((CAST(position AS HUGEINT) * hh) % 1000003)
                        AS BIGINT) AS order_checksum,
                   CAST(coalesce(max(fx.n_fixed), 0) AS BIGINT)
                     AS fixed_vs_prev
            FROM pos p LEFT JOIN fx ON p.epoch = fx.epoch
            GROUP BY p.epoch""",
        "pack_zorder": f"""
            WITH bounds AS (
              SELECT CAST(min(l_partkey) AS BIGINT) AS pk_lo,
                     CAST(max(l_partkey) AS BIGINT) AS pk_hi,
                     CAST(min(l_suppkey) AS BIGINT) AS sk_lo,
                     CAST(max(l_suppkey) AS BIGINT) AS sk_hi
              FROM lineitem)
            SELECT CAST(({_zorder_expr(
                _znorm_expr('l_partkey', 'pk_lo', 'pk_hi', '//'),
                _znorm_expr('l_suppkey', 'sk_lo', 'sk_hi', '//'),
                '//')})
                     // {(1 << (2 * Z_BITS)) // Z_BUCKETS} AS BIGINT)
                     AS z_bucket,
                   count(*) AS n,
                   min(l_partkey) AS pk_min, max(l_partkey) AS pk_max,
                   min(l_suppkey) AS sk_min, max(l_suppkey) AS sk_max
            FROM lineitem CROSS JOIN bounds GROUP BY 1""",
        "pack_sequences": f"""
            SELECT lang,
                   CAST(floor((cum - n_tokens) / {SEQ_TOKEN_BUDGET})
                        AS BIGINT) AS seq_id,
                   count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                   min(doc_id) AS first_doc
            FROM (
              SELECT doc_id, lang,
                     {T.token_count_sql('text')} AS n_tokens,
                     SUM({T.token_count_sql('text')}) OVER (
                       PARTITION BY lang ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS cum
              FROM documents
            ) GROUP BY 1, 2""",
        "text_decontaminate": f"""
            WITH corp AS (
              SELECT doc_id, {T.word_shingles_sql('text', DECON_SHINGLE_K)}
                       AS shs
              FROM documents WHERE source <> 'src0'
            ),
            bench AS (
              SELECT DISTINCT
                     unnest({T.word_shingles_sql('text', DECON_SHINGLE_K)})
                       AS sh
              FROM documents WHERE source = 'src0'
            ),
            ex AS (SELECT doc_id, unnest(shs) AS sh FROM corp),
            shared AS (
              SELECT doc_id, count(*) AS n_shared
              FROM ex JOIN bench USING (sh) GROUP BY doc_id
            )
            SELECT c.doc_id,
                   CAST(len(c.shs) AS INT) AS n_shingles,
                   CAST(coalesce(s.n_shared, 0) AS INT) AS n_shared,
                   CAST((CAST(coalesce(s.n_shared, 0) AS HUGEINT) * 1000000)
                        // CAST(len(c.shs) AS HUGEINT) AS BIGINT)
                     AS containment_ppm,
                   CAST(CASE WHEN coalesce(s.n_shared, 0)
                             >= {DECON_MIN_SHARED}
                        THEN 1 ELSE 0 END AS INT) AS contaminated
            FROM corp c LEFT JOIN shared s USING (doc_id)""",
        "h13_order_dist": """
            SELECT c_count, count(*) AS n_custs FROM (
              SELECT c_custkey, count(o_orderkey) AS c_count
              FROM customer LEFT JOIN orders ON c_custkey = o_custkey
              GROUP BY c_custkey
            ) GROUP BY c_count""",
        "h15_top_supplier": f"""
            WITH rev AS (
              SELECT l_suppkey,
                     CAST(SUM({_DP_SQL}) AS DOUBLE) AS total_revenue
              FROM lineitem
              WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
                AND CAST(l_shipdate AS DATE) <  DATE '1996-04-01'
              GROUP BY l_suppkey
            )
            SELECT s_suppkey, s_name, total_revenue
            FROM rev JOIN supplier ON l_suppkey = s_suppkey
            WHERE total_revenue = (SELECT max(total_revenue) FROM rev)""",
        "h17_small_qty": """
            SELECT round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                              / 7 AS DOUBLE), 2) AS avg_yearly,
                   count(*) AS n_lines
            FROM (
              SELECT l_extendedprice,
                     CAST(l_quantity AS DECIMAL(18,2)) AS qty,
                     count(*) OVER (PARTITION BY l_partkey) AS n,
                     SUM(CAST(l_quantity AS DECIMAL(18,2)))
                       OVER (PARTITION BY l_partkey) AS sum_qty
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE p_brand = 'Brand#4'
            ) WHERE qty * 5 * n < sum_qty""",
        "r3_grouping_sets": """
            SELECT coalesce(event_type, 'ALL') AS event_type,
                   coalesce(CAST(dow AS VARCHAR), 'ALL') AS dow,
                   CAST(GROUPING_ID(event_type, dow) AS INT) AS gid,
                   count(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                     AS sum_value
            FROM (SELECT event_type,
                         CAST(dayofweek(ts) AS INT) AS dow, value
                  FROM events)
            GROUP BY GROUPING SETS ((event_type), (dow), ())""",
        "w8_value_frames": """
            SELECT o_custkey, o_orderkey, o_totalprice,
                   first_value(o_totalprice) OVER run AS first_price,
                   last_value(o_totalprice) OVER run
                     AS running_last_price,
                   last_value(o_totalprice) OVER wfull AS final_price,
                   nth_value(o_totalprice, 2) OVER wfull AS second_price
            FROM orders
            WINDOW run AS (PARTITION BY o_custkey ORDER BY o_orderkey
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW),
                   wfull AS (PARTITION BY o_custkey ORDER BY o_orderkey
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND UNBOUNDED FOLLOWING)""",
        "f1_funnel": """
            SELECT count(*) AS n_users,
                   SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END)
                     AS n_viewed,
                   SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                       THEN 1 ELSE 0 END) AS n_clicked_after,
                   SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                            AND t_purchase > t_click
                       THEN 1 ELSE 0 END) AS n_purchased_after
            FROM (
              SELECT user_id,
                     min(CASE WHEN event_type = 'view'
                         THEN epoch_us(ts) END) AS t_view,
                     min(CASE WHEN event_type = 'click'
                         THEN epoch_us(ts) END) AS t_click,
                     min(CASE WHEN event_type = 'purchase'
                         THEN epoch_us(ts) END) AS t_purchase
              FROM events GROUP BY user_id
            )""",
        "f2_retention": """
            WITH uw AS (
              SELECT DISTINCT user_id,
                     CAST(floor(date_diff('day', DATE '2024-01-01',
                                          CAST(ts AS DATE)) / 7.0)
                          AS INT) AS week
              FROM events
            ),
            first AS (
              SELECT user_id, min(week) AS cohort_week
              FROM uw GROUP BY user_id
            )
            SELECT cohort_week,
                   CAST(uw.week - first.cohort_week AS INT) AS weeks_since,
                   count(DISTINCT uw.user_id) AS n_users
            FROM uw JOIN first USING (user_id)
            GROUP BY 1, 2""",
        "arr_suite": """
            SELECT doc_id,
                   CAST(len(toks) AS INT) AS n_toks,
                   array_to_string(toks[1:3], '-') AS first3,
                   list_aggregate(toks, 'min') AS tok_min,
                   toks[-1] AS tok_last,
                   CAST(CASE WHEN list_contains(toks, 'the')
                        THEN 1 ELSE 0 END AS INT) AS has_the,
                   CAST(coalesce(list_position(toks, 'the'), 0)
                        AS BIGINT) AS pos_the,
                   CAST(len(list_distinct(toks)) AS INT) AS n_uniq,
                   array_to_string(list_sort(toks)[1:3], '-')
                     AS sorted_head3
            FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
                  FROM documents)""",
        "json_suite": """
            SELECT event_id,
                   CAST(json_extract(props, '$.k') AS INT) AS k_val,
                   CAST(CASE WHEN json_extract(props, '$.k') IS NOT NULL
                        THEN 1 ELSE 0 END AS INT) AS has_k,
                   CAST(json_extract(props, '$.k') AS INT) % 10 AS k_mod10,
                   CAST(length(props) AS INT) AS raw_len
            FROM events""",
        "emb_kmeans": """
            WITH vrows AS (
              SELECT vec_id AS vid,
                     unnest(generate_series(1, len(embedding))) AS pos,
                     unnest(list_transform(CAST(embedding AS DOUBLE[]),
                       x -> CAST(floor(x * 1000000) AS BIGINT))) AS vm
              FROM embeddings
            ),
            finit AS (
              SELECT vec_id,
                     CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
                       AS cl
              FROM (SELECT DISTINCT vec_id FROM embeddings
                    ORDER BY vec_id LIMIT 4)
            ),
            c0 AS (
              SELECT f.cl, v.pos, v.vm AS cm
              FROM vrows v JOIN finit f ON v.vid = f.vec_id
            ),
            d1 AS (
              SELECT v.vid, c.cl,
                     SUM((v.vm - c.cm) * (v.vm - c.cm)) AS dist
              FROM vrows v JOIN c0 c ON v.pos = c.pos
              GROUP BY v.vid, c.cl
            ),
            a1 AS (
              SELECT vid, cl FROM (
                SELECT vid, cl, row_number() OVER (
                  PARTITION BY vid ORDER BY dist, cl) AS rn
                FROM d1) WHERE rn = 1
            ),
            c1 AS (
              SELECT a.cl, v.pos,
                     CAST(floor(CAST(SUM(v.vm) AS DOUBLE) / count(*))
                          AS BIGINT) AS cm
              FROM vrows v JOIN a1 a ON v.vid = a.vid
              GROUP BY a.cl, v.pos
            ),
            d2 AS (
              SELECT v.vid, c.cl,
                     SUM((v.vm - c.cm) * (v.vm - c.cm)) AS dist
              FROM vrows v JOIN c1 c ON v.pos = c.pos
              GROUP BY v.vid, c.cl
            ),
            a2 AS (
              SELECT vid, cl FROM (
                SELECT vid, cl, row_number() OVER (
                  PARTITION BY vid ORDER BY dist, cl) AS rn
                FROM d2) WHERE rn = 1
            ),
            c2 AS (
              SELECT a.cl, v.pos,
                     CAST(floor(CAST(SUM(v.vm) AS DOUBLE) / count(*))
                          AS BIGINT) AS cm
              FROM vrows v JOIN a2 a ON v.vid = a.vid
              GROUP BY a.cl, v.pos
            ),
            d3 AS (
              SELECT v.vid, c.cl,
                     SUM((v.vm - c.cm) * (v.vm - c.cm)) AS dist
              FROM vrows v JOIN c2 c ON v.pos = c.pos
              GROUP BY v.vid, c.cl
            ),
            a3 AS (
              SELECT vid, cl, dist FROM (
                SELECT vid, cl, dist, row_number() OVER (
                  PARTITION BY vid ORDER BY dist, cl) AS rn
                FROM d3) WHERE rn = 1
            )
            SELECT CAST(cl AS INT) AS cluster_id,
                   count(*) AS n_members,
                   min(vid) AS min_member,
                   CAST(SUM(dist) AS BIGINT) AS total_dist
            FROM a3 GROUP BY cl""",
        "h9_profit": """
            SELECT n_name AS nation,
                   CAST(year(o_orderdate) AS INT) AS o_year,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                         * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                     AS revenue,
                   CAST(SUM(CAST(0.6 AS DECIMAL(2,1))
                         * CAST(p_retailprice AS DECIMAL(18,2))
                         * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                     AS cost,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                         * (1 - CAST(l_discount AS DECIMAL(18,2)))
                         - CAST(0.6 AS DECIMAL(2,1))
                         * CAST(p_retailprice AS DECIMAL(18,2))
                         * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                     AS profit
            FROM lineitem
            JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            GROUP BY n_name, year(o_orderdate)""",
        "h21_waiting": """
            WITH spine AS (
              SELECT l_orderkey, l_suppkey,
                     CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                                         CAST(l_shipdate AS DATE)) > 60
                          THEN l_suppkey END AS late_supp
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              WHERE o_orderstatus = 'F'
            ), flagged AS (
              SELECT *,
                     count(DISTINCT l_suppkey) OVER (PARTITION BY l_orderkey)
                       AS n_supp,
                     count(DISTINCT late_supp) OVER (PARTITION BY l_orderkey)
                       AS n_late
              FROM spine
            ), waiting AS (
              SELECT DISTINCT l_orderkey, l_suppkey
              FROM flagged
              WHERE late_supp IS NOT NULL AND n_supp > 1 AND n_late = 1
            )
            SELECT s_name, numwait FROM (
              SELECT l_suppkey, count(*) AS numwait
              FROM waiting GROUP BY l_suppkey
            ) JOIN supplier ON l_suppkey = s_suppkey
            ORDER BY numwait DESC, s_name ASC LIMIT 10""",
        "h16_variety": """
            SELECT p_brand, p_type,
                   count(DISTINCT l_suppkey) AS supplier_cnt
            FROM lineitem
            JOIN part ON l_partkey = p_partkey AND p_brand <> 'Brand#1'
            GROUP BY p_brand, p_type
            ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC
            LIMIT 20""",
        "text_top_terms": """
            SELECT lang, token, n, rank FROM (
              SELECT lang, token, n,
                     CAST(row_number() OVER (PARTITION BY lang
                       ORDER BY n DESC, token ASC) AS INT) AS rank
              FROM (
                SELECT lang, token, count(*) AS n
                FROM (
                  SELECT lang,
                         unnest(string_split(lower(text), ' ')) AS token
                  FROM documents
                )
                WHERE length(token) >= 3
                GROUP BY lang, token
              )
            ) WHERE rank <= 5""",
        "evt_zscore": """
            WITH stats AS (
              SELECT user_id, value,
                     CAST(SUM(CAST(value AS DECIMAL(18,2)))
                       OVER (PARTITION BY user_id) AS DOUBLE) AS s,
                     CAST(SUM(CAST(value AS DECIMAL(18,2))
                              * CAST(value AS DECIMAL(18,2)))
                       OVER (PARTITION BY user_id) AS DOUBLE) AS q,
                     CAST(count(*) OVER (PARTITION BY user_id) AS DOUBLE) AS n
              FROM events
            ), z AS (
              SELECT user_id, n, s / n AS mean_v,
                     sqrt(greatest((q - s * s / n) / n, 0.0)) AS std_v,
                     CASE WHEN abs(value - s / n)
                            > 2.0 * sqrt(greatest((q - s * s / n) / n, 0.0))
                          THEN 1 ELSE 0 END AS is_out
              FROM stats
            )
            SELECT user_id, CAST(max(n) AS BIGINT) AS n_events,
                   round(max(mean_v), 6) AS mean_value,
                   round(max(std_v), 6) AS std_value,
                   SUM(is_out) AS n_outliers
            FROM z GROUP BY user_id""",
        "w9_dist_suite": """
            SELECT event_id, event_type,
                   CAST((CAST(rank() OVER w AS HUGEINT) * 1000000)
                        // CAST(count(*) OVER p AS HUGEINT)
                        AS BIGINT) AS cd_ppm,
                   CAST(CASE WHEN count(*) OVER p = 1 THEN 0
                        ELSE (CAST(rank() OVER w - 1 AS HUGEINT) * 1000000)
                             // CAST(count(*) OVER p - 1 AS HUGEINT)
                        END AS BIGINT) AS pr_ppm,
                   ntile(8) OVER w AS bucket
            FROM events
            WINDOW w AS (PARTITION BY event_type
                         ORDER BY value ASC, event_id ASC),
                   p AS (PARTITION BY event_type)""",
        "sim_range_search": _range_search_oracle(),
        "h20_excess": """
            WITH per_ps AS (
              SELECT l_partkey, l_suppkey,
                     SUM(CAST(l_quantity AS DECIMAL(18,2))) AS q
              FROM lineitem GROUP BY l_partkey, l_suppkey
            ), shared AS (
              SELECT l_suppkey FROM (
                SELECT l_partkey, l_suppkey, q,
                       SUM(q) OVER (PARTITION BY l_partkey) AS tot
                FROM per_ps
              ) WHERE CAST(q AS DOUBLE) > 0.4 * CAST(tot AS DOUBLE)
            )
            SELECT s_name, n_dominated_parts FROM (
              SELECT l_suppkey, count(*) AS n_dominated_parts
              FROM shared GROUP BY l_suppkey
            ) JOIN supplier ON l_suppkey = s_suppkey
            ORDER BY n_dominated_parts DESC, s_name ASC LIMIT 15""",
        "agg_linreg": """
            SELECT event_type, CAST(n AS BIGINT) AS n,
                   round((sxy - sx * sy / n) / (sxx - sx * sx / n), 9)
                     AS slope,
                   round((sy - (sxy - sx * sy / n) / (sxx - sx * sx / n)
                          * sx) / n, 6) AS intercept,
                   round((sxy - sx * sy / n)
                         / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)),
                         6) AS pearson_r
            FROM (
              SELECT event_type,
                     CAST(count(*) AS DOUBLE) AS n,
                     CAST(SUM(CAST(event_id AS DECIMAL(18,0))) AS DOUBLE)
                       AS sx,
                     CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                       AS sy,
                     CAST(SUM(CAST(event_id AS DECIMAL(18,0))
                              * CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                       AS sxy,
                     CAST(SUM(CAST(event_id AS DECIMAL(18,0))
                              * CAST(event_id AS DECIMAL(18,0))) AS DOUBLE)
                       AS sxx,
                     CAST(SUM(CAST(value AS DECIMAL(18,2))
                              * CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                       AS syy
              FROM events GROUP BY event_type
            )""",
        "w10_islands": """
            WITH days AS (
              SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
            ), islands AS (
              SELECT user_id, g, count(*) AS len FROM (
                SELECT user_id,
                       d - CAST(row_number() OVER (PARTITION BY user_id
                                ORDER BY d) AS INTEGER) AS g
                FROM days
              ) GROUP BY user_id, g
            )
            SELECT user_id, count(*) AS n_streaks,
                   CAST(max(len) AS BIGINT) AS longest_streak_days,
                   CAST(SUM(len) AS BIGINT) AS active_days
            FROM islands GROUP BY user_id""",
        "agg_multi_distinct": """
            SELECT CAST(ts AS DATE) AS day, count(*) AS n,
                   count(DISTINCT user_id) AS n_users,
                   count(DISTINCT event_type) AS n_types,
                   count(DISTINCT value) AS n_values
            FROM events GROUP BY CAST(ts AS DATE)""",
        "sketch_heavy_hitters": """
            WITH toks AS (
              SELECT unnest(string_split(lower(text), ' ')) AS t
              FROM documents
            ), toks2 AS (SELECT t FROM toks WHERE length(t) > 0)
            SELECT t AS key, count(*) AS n FROM toks2
            GROUP BY t
            HAVING count(*) > 0.03 * (SELECT count(*) FROM toks2)""",
        "sketch_cms_parts": _cms_oracle(),
        "j3_semi_anti": """
            WITH active AS (
              SELECT c_nationkey, count(*) AS n_active
              FROM customer c
              WHERE EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_custkey = c.c_custkey)
              GROUP BY c_nationkey
            ), idle AS (
              SELECT c_nationkey, count(*) AS n_idle
              FROM customer c
              WHERE NOT EXISTS (SELECT 1 FROM orders o
                                WHERE o.o_custkey = c.c_custkey)
              GROUP BY c_nationkey
            )
            SELECT n_name AS nation,
                   CAST(COALESCE(n_active, 0) AS BIGINT) AS n_active,
                   CAST(COALESCE(n_idle, 0) AS BIGINT) AS n_idle
            FROM active FULL OUTER JOIN idle USING (c_nationkey)
            JOIN nation ON c_nationkey = n_nationkey""",
        "null_suite": """
            SELECT event_type,
                   count(*) AS n_rows,
                   count(v) AS n_nonnull,
                   CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
                   SUM(CASE WHEN v IS NOT DISTINCT FROM NULL
                       THEN 1 ELSE 0 END) AS n_nullsafe_eq_null,
                   SUM(CASE WHEN NULLIF(v, 0.0) IS NULL
                       THEN 1 ELSE 0 END) AS n_zero_or_null,
                   CAST(SUM(CAST(COALESCE(v, -1.0) AS DECIMAL(18,2)))
                     AS DOUBLE) AS sum_coalesced,
                   SUM(CASE WHEN v > 50.0 THEN 1 ELSE 0 END)
                     AS n_gt50_null_falls_through
            FROM (
              SELECT event_type,
                     CASE WHEN event_id % 3 <> 0 THEN value END AS v
              FROM events
            )
            GROUP BY event_type""",
        "emb_quantize_int8": """
            WITH rows0 AS (
              SELECT vec_id, label,
                     unnest(CAST(embedding AS DOUBLE[])) AS x
              FROM embeddings
            ), scaled AS (
              SELECT label, x,
                     MAX(abs(x)) OVER (PARTITION BY vec_id) / 127.0
                       AS scale
              FROM rows0
            ), err AS (
              SELECT label,
                     CAST(floor(abs(x - greatest(-127.0, least(127.0,
                       round(x / scale, 0))) * scale) * 1000000.0)
                       AS BIGINT) AS e
              FROM scaled WHERE scale > 0
            )
            SELECT label, count(*) AS n_components,
                   max(e) AS max_err_micro,
                   CAST(floor(avg(e)) AS BIGINT) AS mean_err_micro
            FROM err GROUP BY label""",
        "sample_token_budget": f"""
            WITH scored AS (
              SELECT doc_id, lang,
                     {T.token_count_sql('text')} AS n_tokens,
                     {T.quality_ppm_sql('text')} AS q_micro
              FROM documents
            ), cum AS (
              SELECT *,
                     SUM(n_tokens) OVER (PARTITION BY lang
                       ORDER BY q_micro DESC, doc_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS c
              FROM scored
            )
            SELECT lang, count(*) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
                   min(q_micro) AS min_quality_micro
            FROM cum WHERE c <= 3000 GROUP BY lang""",
        "dedup_char_ngram": """
            WITH d0 AS (
              SELECT doc_id, lang, source,
                     list_filter(
                       list_distinct(list_transform(
                         generate_series(1,
                           greatest(length(lower(text)) - 15, 0)),
                         i -> substr(lower(text), i, 16))),
                       g -> CAST(concat('0x', substr(md5(g), 1, 15))
                              AS BIGINT) % 8 = 0) AS grams
              FROM documents
              WHERE greatest(length(lower(text)) - 15, 0) > 0
            ), d AS (
              SELECT * FROM d0 WHERE len(grams) > 0
            )
            SELECT l.doc_id AS id_a, r.doc_id AS id_b,
                   CAST((CAST(len(list_intersect(l.grams, r.grams))
                              AS HUGEINT) * 1000000)
                        // CAST(len(list_distinct(
                            list_concat(l.grams, r.grams))) AS HUGEINT)
                        AS BIGINT) AS jaccard_ppm
            FROM d l JOIN d r
              ON l.lang = r.lang AND l.source = r.source
             AND l.doc_id < r.doc_id
            WHERE (CAST(len(list_intersect(l.grams, r.grams)) AS HUGEINT)
                   * 1000000)
                  // CAST(len(list_distinct(
                      list_concat(l.grams, r.grams))) AS HUGEINT)
                  >= 150000""",
        "h11_important": """
            WITH per_part AS (
              SELECT l_partkey,
                     SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS v
              FROM lineitem GROUP BY l_partkey
            )
            SELECT l_partkey, round(CAST(v AS DOUBLE), 2) AS part_value
            FROM per_part
            WHERE CAST(v AS DOUBLE)
                  > 0.001 * (SELECT CAST(SUM(v) AS DOUBLE) FROM per_part)""",
        "h7_volume": """
            SELECT supp_nation, cust_nation, l_year,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                     * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                     AS revenue
            FROM (
              SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
                     CAST(year(l_shipdate) AS INT) AS l_year,
                     l_extendedprice, l_discount
              FROM lineitem
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ns ON s_nationkey = ns.n_nationkey
              JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              JOIN nation nc ON c_nationkey = nc.n_nationkey
              WHERE (ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
                 OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1')
            )
            GROUP BY supp_nation, cust_nation, l_year""",
        "h2_min_cost": """
            WITH offers AS (
              SELECT p_partkey, p_name, l_suppkey,
                     CAST(floor(l_extendedprice * 1000000.0 / l_quantity)
                       AS BIGINT) AS um
              FROM lineitem
              JOIN part ON l_partkey = p_partkey AND p_type = 'LARGE'
            ), best AS (
              SELECT p_partkey, p_name,
                     min(struct_pack(um := um, sk := l_suppkey)) AS b
              FROM offers GROUP BY p_partkey, p_name
            )
            SELECT p_partkey, p_name, s_name,
                   b.um AS unit_price_micro
            FROM best JOIN supplier ON b.sk = s_suppkey""",
        "sample_split": f"""
            SELECT split, lang, count(*) AS n_docs,
                   CAST(SUM({T.token_count_sql('text')}) AS BIGINT)
                     AS n_tokens
            FROM (
              SELECT CASE
                       WHEN b < 90 THEN 'train'
                       WHEN b < 95 THEN 'val'
                       ELSE 'test'
                     END AS split, lang, text
              FROM (
                SELECT lang, text,
                       CAST(concat('0x', substr(md5(concat('split:',
                         CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
                         % 100 AS b
                FROM documents
              )
            )
            GROUP BY split, lang""",
        "sample_kfold": f"""
            WITH f AS (
              SELECT CAST(concat('0x', substr(md5(concat('fold:',
                       CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
                       % {KFOLD_K} AS fold,
                     CAST({T.token_count_sql('text')} AS BIGINT) AS toks
              FROM documents
            ), agg AS (
              SELECT fold, count(*) AS n_docs,
                     CAST(SUM(toks) AS BIGINT) AS n_tokens
              FROM f GROUP BY fold)
            SELECT fold, n_docs, n_tokens,
                   CAST((n_docs * 1000000)
                        // sum(n_docs) OVER () AS BIGINT) AS share_ppm
            FROM agg""",
        "evt_error_burst": """
            WITH per AS (
              SELECT user_id,
                     CAST(count(*) OVER w AS BIGINT) AS inw
              FROM events WHERE event_type = 'error'
              WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                           RANGE BETWEEN 299999999 PRECEDING
                             AND CURRENT ROW)
            )
            SELECT user_id, count(*) AS n_errors,
                   CAST(SUM(CASE WHEN inw >= 3 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_burst_events,
                   max(inw) AS peak_5min
            FROM per GROUP BY user_id""",
        "sample_split_safe": f"""
            WITH RECURSIVE pairs AS ({_minhash_oracle()}),
            edges AS (
              SELECT id_a AS src, id_b AS dst FROM pairs
              UNION ALL
              SELECT id_b AS src, id_a AS dst FROM pairs
            ),
            nodes AS (SELECT DISTINCT src AS id FROM edges),
            reach(node, r) AS (
              SELECT id, id FROM nodes
              UNION
              SELECT reach.node, e.dst FROM reach JOIN edges e
                ON reach.r = e.src
            ),
            labels AS (
              SELECT node, min(r) AS cluster_id FROM reach GROUP BY node
            ),
            docs2 AS (
              SELECT d.doc_id,
                     COALESCE(l.cluster_id, d.doc_id) AS rep,
                     CASE WHEN l.cluster_id IS NULL THEN 0 ELSE 1 END
                       AS near,
                     CAST({T.token_count_sql('text')} AS BIGINT) AS toks
              FROM documents d LEFT JOIN labels l ON d.doc_id = l.node
            ),
            bucketed AS (
              SELECT *,
                     CAST(concat('0x', substr(md5(concat('split:',
                       CAST(rep AS VARCHAR))), 1, 15)) AS BIGINT)
                       % 100 AS bk
              FROM docs2
            )
            SELECT CASE WHEN bk < 90 THEN 'train'
                        WHEN bk < 95 THEN 'val'
                        ELSE 'test' END AS split,
                   count(*) AS n_docs,
                   CAST(count(DISTINCT rep) AS BIGINT) AS n_groups,
                   CAST(SUM(toks) AS BIGINT) AS n_tokens,
                   CAST(SUM(near) AS BIGINT) AS n_near_dup_docs
            FROM bucketed GROUP BY 1""",
        "text_surprisal": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(string_split(lower(text), ' ')) AS tok
              FROM documents
            ), toks2 AS (SELECT * FROM toks WHERE length(tok) > 0),
            freq AS (
              SELECT tok, count(*) AS f FROM toks2 GROUP BY tok
            ), total AS (SELECT count(*) AS n FROM toks2)
            SELECT doc_id, count(*) AS n_tokens,
                   CAST(SUM(length(bin(
                     CAST((SELECT n FROM total) AS BIGINT) // f
                   ))) AS BIGINT) AS surprisal_bits
            FROM toks2 JOIN freq USING (tok)
            GROUP BY doc_id""",
        "text_surprisal_bigram": """
            WITH d AS (
              SELECT doc_id, string_split(lower(text), ' ') AS toks
              FROM documents
            ), b0 AS (
              SELECT doc_id, toks,
                     unnest(generate_series(1, greatest(len(toks) - 1, 1)))
                       AS i
              FROM d
            ), bt AS (
              SELECT doc_id, concat_ws(' ', toks[i], toks[i + 1]) AS bg
              FROM b0
            ), bfreq AS (
              SELECT bg, count(*) AS cbg FROM bt GROUP BY bg
            ), pfreq AS (
              SELECT split_part(bg, ' ', 1) AS prev, count(*) AS cprev
              FROM bt GROUP BY 1
            )
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                   CAST(SUM(length(bin(cprev // cbg))) AS BIGINT)
                     AS bigram_bits
            FROM bt JOIN bfreq USING (bg)
            JOIN pfreq ON split_part(bt.bg, ' ', 1) = pfreq.prev
            GROUP BY doc_id""",
        "text_quality_gopher": """
            WITH d AS (
              SELECT doc_id, string_split(lower(text), ' ') AS toks
              FROM documents
            ), t0 AS (
              SELECT doc_id, toks,
                     unnest(generate_series(1, len(toks))) AS i
              FROM d
            ), t AS (
              SELECT doc_id, toks[i] AS tok FROM t0
              WHERE length(toks[i]) > 0
            ), uc AS (
              SELECT doc_id, tok, count(*) AS c FROM t GROUP BY doc_id, tok
            ), uni AS (
              SELECT doc_id, SUM(c) AS n_tokens, MAX(c) AS top_c,
                     SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_c,
                     SUM(length(tok) * c) AS chars
              FROM uc GROUP BY doc_id
            ), b0 AS (
              SELECT doc_id, toks,
                     unnest(generate_series(1, greatest(len(toks) - 1, 1)))
                       AS i
              FROM d
            ), bt AS (
              SELECT doc_id, concat_ws(' ', toks[i], toks[i + 1]) AS bg
              FROM b0
            ), bc AS (
              SELECT doc_id, bg, count(*) AS c FROM bt GROUP BY doc_id, bg
            ), bga AS (
              SELECT doc_id, SUM(c) AS n_bigrams,
                     SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_bg
              FROM bc GROUP BY doc_id
            )
            SELECT uni.doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                   CAST((CAST(top_c AS HUGEINT) * 1000000)
                        // CAST(n_tokens AS HUGEINT) AS BIGINT)
                     AS top_word_ppm,
                   CAST((CAST(dup_c AS HUGEINT) * 1000000)
                        // CAST(n_tokens AS HUGEINT) AS BIGINT)
                     AS dup_word_ppm,
                   CAST((CAST(dup_bg AS HUGEINT) * 1000000)
                        // CAST(n_bigrams AS HUGEINT) AS BIGINT)
                     AS dup_bigram_ppm,
                   CAST((CAST(chars AS HUGEINT) * 1000000)
                        // CAST(n_tokens AS HUGEINT) AS BIGINT)
                     AS mean_word_len_ppm,
                   CAST((CAST(top_c AS HUGEINT) * 1000000)
                          // CAST(n_tokens AS HUGEINT) <= 200000
                        AND (CAST(dup_bg AS HUGEINT) * 1000000)
                          // CAST(n_bigrams AS HUGEINT) <= 600000
                        AS INT) AS pass_gopher
            FROM uni JOIN bga ON uni.doc_id = bga.doc_id""",
        "dedup_passage": """
            WITH d AS (
              SELECT doc_id, string_split(lower(text), ' ') AS toks
              FROM documents
            ), c0 AS (
              SELECT doc_id, toks,
                     unnest(generate_series(0,
                       CAST(ceil(len(toks) / 10.0) AS INT) - 1)) AS i
              FROM d
            ), ch AS (
              SELECT doc_id, i AS chunk_idx,
                     md5(array_to_string(toks[i * 10 + 1 : i * 10 + 10], ' '))
                       AS fp
              FROM c0
            ), mk AS (
              SELECT doc_id, chunk_idx,
                     min(struct_pack(d := doc_id, c := chunk_idx))
                       OVER (PARTITION BY fp) AS first
              FROM ch
            )
            SELECT doc_id, count(*) AS n_chunks,
                   SUM(CASE WHEN first.d = doc_id AND first.c = chunk_idx
                            THEN 0 ELSE 1 END) AS n_dup,
                   CAST((CAST(SUM(CASE WHEN first.d = doc_id
                                        AND first.c = chunk_idx
                                   THEN 0 ELSE 1 END) AS HUGEINT) * 1000000)
                        // CAST(count(*) AS HUGEINT) AS BIGINT) AS dup_ppm
            FROM mk GROUP BY doc_id""",
        "sketch_hist_quantile": """
            WITH binned AS (
              SELECT l_returnflag,
                     CAST(floor(l_extendedprice / 1000) AS BIGINT) AS b,
                     count(*) AS c
              FROM lineitem GROUP BY 1, 2
            ), cum AS (
              SELECT l_returnflag, b,
                     SUM(c) OVER (PARTITION BY l_returnflag ORDER BY b
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum,
                     SUM(c) OVER (PARTITION BY l_returnflag) AS n
              FROM binned
            )
            SELECT l_returnflag, MAX(n) AS n_rows,
                   MIN(CASE WHEN cum * 2 >= n THEN b END) * 1000.0 AS p50_lo,
                   MIN(CASE WHEN cum * 10 >= n * 9 THEN b END) * 1000.0
                     AS p90_lo
            FROM cum GROUP BY l_returnflag""",
        "dedup_canonical": f"""
            WITH s AS (
              SELECT md5(text) AS fp, doc_id,
                     {T.quality_ppm_sql('text')} AS q
              FROM documents
            ), g AS (
              SELECT fp,
                     min(struct_pack(nq := -q, id := doc_id)) AS b,
                     count(*) AS n_copies
              FROM s GROUP BY fp
            )
            SELECT b.id AS keeper_id, -b.nq AS keeper_q_micro, n_copies
            FROM g""",
        "dedup_containment": f"""
            WITH sh AS (
              SELECT doc_id,
                     unnest({T.word_shingles_sql('text', 3)}) AS s
              FROM documents
            ), keep AS (
              SELECT s FROM sh GROUP BY s
              HAVING count(*) BETWEEN 2 AND {CONTAINMENT_MAXDF}
            ), rare AS (
              SELECT sh.doc_id, sh.s FROM sh JOIN keep USING (s)
            ), sz AS (
              SELECT doc_id, count(*) AS sz FROM rare GROUP BY doc_id
            ), p AS (
              SELECT l.doc_id AS id_a, r.doc_id AS id_b,
                     count(*) AS shared
              FROM rare l JOIN rare r
                ON l.s = r.s AND l.doc_id < r.doc_id
              GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   CAST((CAST(shared AS HUGEINT) * 1000000)
                        // CAST(least(a.sz, b.sz) AS HUGEINT) AS BIGINT)
                     AS containment_ppm
            FROM p
            JOIN sz a ON p.id_a = a.doc_id
            JOIN sz b ON p.id_b = b.doc_id
            WHERE (CAST(shared AS HUGEINT) * 1000000)
                    // CAST(least(a.sz, b.sz) AS HUGEINT)
                  >= {X.ppm(CONTAINMENT_MIN)}""",
        "bit_suite": """
            SELECT event_type,
                   CAST(SUM(bit_count(event_id)) AS BIGINT)
                     AS sum_popcount,
                   CAST(SUM(event_id & 255) AS BIGINT) AS sum_and255,
                   CAST(SUM((event_id >> 3) & 7) AS BIGINT)
                     AS sum_shift_mask,
                   bit_and(event_id) AS agg_and,
                   bit_or(event_id) AS agg_or,
                   bit_xor(event_id) AS agg_xor
            FROM events GROUP BY event_type""",
        "regex_suite": """
            SELECT doc_id,
                   regexp_extract(text, '\\b(query|table|join)\\b', 1)
                     AS first_kw,
                   CAST(len(regexp_extract_all(text,
                     '\\b(scan|sort|merge)\\b')) AS INT) AS n_exec_kw,
                   CAST(length(regexp_replace(text, '[aeiou]+', '*', 'g'))
                     AS INT) AS devowel_len,
                   CAST(regexp_matches(text, '^[a-z ]+$') AS INT)
                     AS is_plain,
                   CAST(len(regexp_split_to_array(text, 'a+')) AS INT)
                     AS n_a_splits
            FROM documents""",
        "evt_journey_patterns": f"""
            WITH j AS ({_JOURNEY_SQL}),
            agg AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                     {", ".join(
                         f"CAST(SUM(CASE WHEN regexp_matches(journey, "
                         f"'{p}') THEN 1 ELSE 0 END) AS BIGINT)"
                         f" AS {name}"
                         for name, p in JOURNEY_PATTERNS
                     )}
              FROM j)
            SELECT pattern, n_users,
                   CAST((n_users * 1000000) // n AS BIGINT) AS share_ppm
            FROM (
              {" UNION ALL ".join(
                  f"SELECT '{name}' AS pattern, {name} AS n_users, n"
                  f" FROM agg"
                  for name, _ in JOURNEY_PATTERNS
              )}
            )""",
        "evt_top_paths": f"""
            WITH j AS ({_JOURNEY_SQL}),
            pref AS (
              SELECT substr(journey, 1, 5) AS prefix,
                     CAST(count(*) AS BIGINT) AS n_users
              FROM j GROUP BY 1)
            SELECT prefix, n_users, rk FROM (
              SELECT *, row_number() OVER
                     (ORDER BY n_users DESC, prefix ASC) AS rk
              FROM pref
            ) WHERE rk <= 10""",
        "evt_session_journeys": f"""
            WITH ordered AS (
              SELECT user_id, ts, event_id,
                     substr(event_type, 1, 1) AS i,
                     CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                            PARTITION BY user_id ORDER BY ts, event_id)
                          > {SESSION_GAP_MIN} * 60 * 1000000
                          THEN 1 ELSE 0 END AS new_s
              FROM events
            ), sess AS (
              SELECT user_id, ts, event_id, i,
                     SUM(new_s) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS s_idx
              FROM ordered
            ), ranked AS (
              SELECT user_id, s_idx, i,
                     row_number() OVER (PARTITION BY user_id, s_idx
                       ORDER BY ts, event_id) AS rn,
                     count(*) OVER (PARTITION BY user_id, s_idx)
                       AS n_events
              FROM sess
            ), j AS (
              SELECT user_id, s_idx,
                     string_agg(CASE WHEN rn <= {SESSION_JOURNEY_MAX}
                                     THEN i END, '' ORDER BY rn)
                       AS journey,
                     CAST(max(n_events) AS BIGINT) AS n_events
              FROM ranked GROUP BY user_id, s_idx
            ), freq AS (
              SELECT journey,
                     CAST(count(*) AS BIGINT) AS n_sessions,
                     CAST(SUM(n_events) AS BIGINT) AS total_events
              FROM j GROUP BY journey
            )
            SELECT journey, n_sessions, total_events, rk FROM (
              SELECT *, row_number() OVER
                     (ORDER BY n_sessions DESC, journey ASC) AS rk
              FROM freq
            ) WHERE rk <= 15""",
        "evt_markov": """
            WITH t AS (
              SELECT event_type AS from_state,
                     lead(event_type) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS to_state
              FROM events
            ), c AS (
              SELECT from_state, to_state, count(*) AS n
              FROM t WHERE to_state IS NOT NULL
              GROUP BY from_state, to_state
            )
            SELECT from_state, to_state, n,
                   CAST((CAST(n AS HUGEINT) * 1000000)
                        // CAST(SUM(n) OVER (PARTITION BY from_state)
                                AS HUGEINT) AS BIGINT) AS p_ppm
            FROM c""",
        "emb_top_direction": """
            WITH m AS (
              SELECT list_transform(embedding,
                       x -> CAST(round(x * 1e6) AS BIGINT)) AS xi
              FROM embeddings
            ), s AS (
              SELECT xi, list_aggregate(xi, 'sum') AS s FROM m
            ), ex AS (
              SELECT s, xi, unnest(generate_series(1, len(xi))) AS d
              FROM s
            )
            SELECT CAST(d AS INT) AS dim_idx,
                   CAST(SUM(xi[d] * s) AS BIGINT) AS proj
            FROM ex GROUP BY d""",
        "ts_ohlc": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00')
                     AS bucket,
                   event_type,
                   (min(struct_pack(t := ts, e := event_id, v := value))).v
                     AS "open",
                   max(value) AS high,
                   min(value) AS low,
                   (max(struct_pack(t := ts, e := event_id, v := value))).v
                     AS "close",
                   count(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                     AS sum_value
            FROM events GROUP BY 1, 2""",
        "ts_ewma": _ewma_sql("events"),
        "ts_interpolate": """
            WITH hourly AS (
              SELECT user_id, date_trunc('hour', ts) AS h,
                     CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                       / count(*) AS v
              FROM events GROUP BY 1, 2
            ), spine AS (
              SELECT user_id,
                     unnest(generate_series(min(h), max(h),
                       INTERVAL 1 HOUR)) AS h
              FROM hourly GROUP BY user_id
            ), j AS (
              SELECT s.user_id, s.h, hourly.v
              FROM spine s LEFT JOIN hourly
                ON s.user_id = hourly.user_id AND s.h = hourly.h
            ), f AS (
              SELECT user_id, h, v,
                     last_value(v IGNORE NULLS) OVER wb AS prev_v,
                     first_value(v IGNORE NULLS) OVER wf AS next_v,
                     last_value(CASE WHEN v IS NOT NULL THEN h END
                       IGNORE NULLS) OVER wb AS prev_h,
                     first_value(CASE WHEN v IS NOT NULL THEN h END
                       IGNORE NULLS) OVER wf AS next_h
              FROM j
              WINDOW wb AS (PARTITION BY user_id ORDER BY h
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW),
                     wf AS (PARTITION BY user_id ORDER BY h
                            ROWS BETWEEN CURRENT ROW
                                     AND UNBOUNDED FOLLOWING)
            )
            SELECT user_id, strftime(h, '%Y-%m-%d %H:00') AS bucket,
                   CAST(v IS NOT NULL AS INT) AS observed,
                   CAST(floor((CASE WHEN v IS NOT NULL THEN v
                         ELSE prev_v + (next_v - prev_v)
                              * ((epoch(h) - epoch(prev_h))
                                 / (epoch(next_h) - epoch(prev_h))) END)
                        * 1e6 + 0.5) AS BIGINT) AS value_micro
            FROM f""",
        "agg_mode": """
            WITH c AS (
              SELECT event_type,
                     CAST(json_extract_string(props, '$.k') AS INT) AS k,
                     count(*) AS n
              FROM events GROUP BY 1, 2
            ), g AS (
              SELECT event_type,
                     min(struct_pack(nn := -n, k := k)) AS b
              FROM c GROUP BY event_type
            )
            SELECT event_type, b.k AS mode_k,
                   CAST(-b.nn AS BIGINT) AS n_mode
            FROM g""",
        "sample_exact_k": """
            SELECT lang, doc_id, rk FROM (
              SELECT lang, doc_id,
                     row_number() OVER (PARTITION BY lang
                       ORDER BY md5(concat('k:', CAST(doc_id AS VARCHAR))),
                                doc_id) AS rk
              FROM documents
            ) WHERE rk <= 10""",
        "sketch_bloom_orders": K.bloom_sql(
            "lineitem",
            "l_orderkey",
            """(
              SELECT l_orderkey FROM (
                SELECT DISTINCT l_orderkey FROM lineitem
                ORDER BY l_orderkey LIMIT 10
              )
              UNION ALL
              SELECT mx + i AS l_orderkey
              FROM (SELECT max(o_orderkey) AS mx FROM orders),
                   generate_series(1, 10) AS u(i)
            ) keyt""",
            "keyt.l_orderkey",
        ),
        "text_salient_terms": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(string_split(lower(text), ' ')) AS term
              FROM documents
            ), t2 AS (SELECT * FROM toks WHERE length(term) > 0),
            tf AS (
              SELECT doc_id, term, count(*) AS tf
              FROM t2 GROUP BY doc_id, term
            ), dfreq AS (
              SELECT term, count(DISTINCT doc_id) AS df
              FROM t2 GROUP BY term
            ), ranked AS (
              SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
                     row_number() OVER (PARTITION BY tf.doc_id
                       ORDER BY tf.tf DESC, dfreq.df ASC, tf.term ASC)
                       AS rk
              FROM tf JOIN dfreq ON tf.term = dfreq.term
            )
            SELECT doc_id, term, tf, df, rk FROM ranked WHERE rk <= 3""",
        "w12_cumulative_distinct": """
            WITH flagged AS (
              SELECT event_id, user_id, ts,
                     CAST(row_number() OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY ts, event_id) = 1 AS INT) AS fnew
              FROM events
            )
            SELECT event_id, user_id,
                   CAST(SUM(fnew) OVER (PARTITION BY user_id
                     ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS n_types_seen
            FROM flagged""",
        "pipeline_near_dedup_keep": f"""
            WITH RECURSIVE pairs AS ({_minhash_oracle()}),
            edges AS (
              SELECT id_a AS src, id_b AS dst FROM pairs
              UNION ALL
              SELECT id_b AS src, id_a AS dst FROM pairs
            ),
            nodes AS (SELECT DISTINCT src AS id FROM edges),
            reach(node, r) AS (
              SELECT id, id FROM nodes
              UNION
              SELECT reach.node, e.dst FROM reach JOIN edges e
                ON reach.r = e.src
            ),
            labels AS (
              SELECT node, min(r) AS cluster_id FROM reach GROUP BY node
            ),
            scored AS (
              SELECT doc_id, lang,
                     {T.quality_ppm_sql('text')} AS q,
                     {T.token_count_sql('text')} AS nt
              FROM documents
            ),
            lab AS (
              SELECT s.doc_id, s.lang, s.q, s.nt,
                     COALESCE(l.cluster_id, s.doc_id) AS cid
              FROM scored s LEFT JOIN labels l ON s.doc_id = l.node
            ),
            best AS (
              SELECT cid,
                     min(struct_pack(nq := -q, id := doc_id)) AS b
              FROM lab GROUP BY cid
            )
            SELECT lang, count(*) AS n_docs,
                   CAST(SUM(CASE WHEN lab.doc_id = (best.b).id
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                   CAST(SUM(CASE WHEN lab.doc_id = (best.b).id
                            THEN lab.nt ELSE 0 END) AS BIGINT)
                     AS tokens_kept
            FROM lab JOIN best ON lab.cid = best.cid
            GROUP BY lang""",
        "sketch_hll_daily": f"""
            WITH est AS (
              {K.hll_count_distinct_sql(
                  "(SELECT strftime(ts, '%Y-%m-%d') AS day, user_id "
                  "FROM events) d",
                  ['day'], 'user_id', seed=HLL_SEED)}
            ), ex AS (
              SELECT strftime(ts, '%Y-%m-%d') AS day,
                     count(DISTINCT user_id) AS n_exact
              FROM events GROUP BY 1
            )
            SELECT ex.day, n_exact, n_hll
            FROM ex JOIN est ON ex.day = est.day""",
        "dedup_embedding_vec": f"""
            WITH m AS (
              SELECT vec_id, label,
                     list_transform(embedding,
                       x -> CAST(round(x * 1e6) AS BIGINT)) AS xi
              FROM embeddings
            ), s AS (
              SELECT vec_id, label, xi,
                     list_aggregate(list_transform(xi, v -> v * v),
                       'sum') AS sq
              FROM m
            )
            SELECT id_a, id_b, cos_sim FROM (
              SELECT l.vec_id AS id_a, r.vec_id AS id_b,
                     round(CAST(list_aggregate(
                         list_transform(generate_series(1, len(l.xi)),
                           i -> l.xi[i] * r.xi[i]), 'sum') AS DOUBLE)
                       / (sqrt(CAST(l.sq AS DOUBLE))
                          * sqrt(CAST(r.sq AS DOUBLE))), 6) AS cos_sim
              FROM s l JOIN s r
                ON l.label = r.label AND l.vec_id < r.vec_id
            ) WHERE cos_sim >= {NEARDUP_COS}""",
        "multimodal_frame_plan": """
            SELECT doc_id,
                   CAST(octet_length(encode(text)) AS INT) AS byte_len,
                   CAST(greatest(CAST(floor(octet_length(encode(text))
                     / 10) AS INT), 1) AS BIGINT) AS n_frames,
                   greatest(CAST(floor(octet_length(encode(text)) / 10)
                     AS INT), 1) - 1 AS last_frame
            FROM documents""",
        "evt_anomaly_mad": """
            WITH med AS (
              SELECT event_type, quantile_cont(value, 0.5) AS med
              FROM events GROUP BY 1
            ), dev AS (
              SELECT e.event_type, m.med,
                     abs(e.value - m.med) AS dev
              FROM events e JOIN med m ON e.event_type = m.event_type
            ), st AS (
              SELECT event_type, quantile_cont(dev, 0.5) AS mad
              FROM dev GROUP BY 1
            )
            SELECT d.event_type, round(max(d.med), 6) AS med,
                   round(max(s.mad), 6) AS mad,
                   CAST(SUM(CASE WHEN d.dev >
                     CAST(4.4478 AS DOUBLE) * s.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
                   count(*) AS n
            FROM dev d JOIN st s ON d.event_type = s.event_type
            GROUP BY d.event_type""",
        "sample_mixture_temperature": f"""
            WITH counts AS (
              SELECT lang,
                     CAST(SUM({T.token_count_sql('text')}) AS BIGINT)
                       AS n_tokens
              FROM documents GROUP BY lang
            ), powed AS (
              SELECT lang, n_tokens,
                     CAST(floor(pow(CAST(n_tokens AS DOUBLE),
                       {MIXTURE_ALPHA}) * 1e6 + 0.5) AS BIGINT) AS wq
              FROM counts
            ), tot AS (SELECT SUM(wq) AS t FROM powed)
            SELECT lang, n_tokens,
                   CAST((CAST(wq AS HUGEINT) * 1000000)
                        // CAST((SELECT t FROM tot) AS HUGEINT)
                        AS BIGINT) AS weight_ppm,
                   (wq * {MIXTURE_BUDGET_TOKENS}) // (SELECT t FROM tot)
                     AS quota_tokens
            FROM powed""",
        "text_ttr": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(string_split(lower(text), ' ')) AS tok
              FROM documents
            ), t2 AS (SELECT * FROM toks WHERE length(tok) > 0),
            pt AS (
              SELECT doc_id, tok, count(*) AS c
              FROM t2 GROUP BY doc_id, tok
            )
            SELECT doc_id,
                   CAST(SUM(c) AS BIGINT) AS n_tokens,
                   count(*) AS n_types,
                   CAST((CAST(count(*) AS HUGEINT) * 1000000)
                        // CAST(SUM(c) AS HUGEINT) AS BIGINT) AS ttr_ppm,
                   CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_hapax,
                   CAST((CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                              AS HUGEINT) * 1000000)
                        // CAST(count(*) AS HUGEINT) AS BIGINT)
                     AS hapax_ppm
            FROM pt GROUP BY doc_id""",
        "pv2_unpivot": f"""
            WITH long AS (
              SELECT l_returnflag, 'quantity' AS metric,
                     l_quantity AS val FROM lineitem
              UNION ALL
              SELECT l_returnflag, 'price', l_extendedprice FROM lineitem
              UNION ALL
              SELECT l_returnflag, 'discount', l_discount FROM lineitem
            )
            SELECT l_returnflag, metric, count(*) AS n,
                   {_dsum_sql('val')} AS sum_val,
                   min(val) AS min_val, max(val) AS max_val
            FROM long GROUP BY l_returnflag, metric""",
        "evt_cooccurrence": """
            WITH ut AS (
              SELECT DISTINCT user_id, event_type FROM events
            )
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   count(*) AS n_users
            FROM ut a JOIN ut b
              ON a.user_id = b.user_id
             AND a.event_type < b.event_type
            GROUP BY 1, 2""",
        "dedup_lsh_recall": f"""
            WITH lsh AS ({_minhash_oracle()}),
            d AS (
              SELECT doc_id, {T.word_shingles_sql('text', MINHASH_K)} AS sh
              FROM documents
            ),
            -- exact pairs via prefix-filter candidate generation
            -- (Bayardo WWW'07, same bound the Spark operator uses):
            -- a J>=t pair must share a token in its rarity-ordered
            -- prefix of length n - ceil(t*n) + 1, and t*|A|<=|B|<=|A|/t.
            -- Exact (no false negatives), ~quadratic-free — replaces
            -- the all-pairs join that dominated the oracle wall.
            -- Bounds use t' = t - 5e-7 because acceptance is
            -- round(J,6) >= t: a pair with J in [t-5e-7, t) rounds up
            -- into the result, so the filter must cover it too.
            dd AS (SELECT doc_id, sh, len(sh) AS n FROM d),
            tok AS (SELECT doc_id, n, unnest(sh) AS t FROM dd),
            tdf AS (SELECT t, count(*) AS dfc FROM tok GROUP BY t),
            ordered AS (
              SELECT tok.doc_id, tok.n, tok.t,
                     row_number() OVER (PARTITION BY tok.doc_id
                       ORDER BY tdf.dfc, tok.t) AS pos
              FROM tok JOIN tdf USING (t)
            ),
            pref AS (
              SELECT * FROM ordered
              WHERE pos <= n - ceil(({MINHASH_THRESHOLD} - 5e-7) * n) + 1
            ),
            cand AS (
              SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
              FROM pref l JOIN pref r
                ON l.t = r.t AND l.doc_id < r.doc_id
              WHERE r.n >= ({MINHASH_THRESHOLD} - 5e-7) * l.n
                AND l.n >= ({MINHASH_THRESHOLD} - 5e-7) * r.n
            ),
            exact AS (
              SELECT id_a, id_b
              FROM cand
              JOIN dd a ON a.doc_id = cand.id_a
              JOIN dd b ON b.doc_id = cand.id_b
              WHERE (CAST(len(list_intersect(a.sh, b.sh)) AS HUGEINT)
                     * 1000000)
                    // CAST(len(list_distinct(
                        list_concat(a.sh, b.sh))) AS HUGEINT)
                    >= {X.ppm(MINHASH_THRESHOLD)}
            )
            SELECT count(*) AS n_true,
                   CAST(SUM(CASE WHEN lsh.id_a IS NOT NULL
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
                   CAST((CAST(SUM(CASE WHEN lsh.id_a IS NOT NULL
                                  THEN 1 ELSE 0 END) AS HUGEINT) * 1000000)
                        // CAST(count(*) AS HUGEINT) AS BIGINT)
                     AS recall_ppm
            FROM exact LEFT JOIN lsh
              ON exact.id_a = lsh.id_a AND exact.id_b = lsh.id_b""",
        "emb_norm_outliers": """
            WITH sq AS (
              SELECT label,
                     list_aggregate(list_transform(embedding,
                       x -> CAST(round(x * 1e6) AS BIGINT)
                            * CAST(round(x * 1e6) AS BIGINT)), 'sum')
                       AS sq
              FROM embeddings
            ), ranked AS (
              SELECT label, sq,
                     row_number() OVER (PARTITION BY label
                       ORDER BY sq) AS rn,
                     count(*) OVER (PARTITION BY label) AS n
              FROM sq
            ), fences AS (
              SELECT label,
                     MIN(CASE WHEN rn = (n + 19) // 20 THEN sq END)
                       AS lo,
                     MIN(CASE WHEN rn = (19 * n + 19) // 20 THEN sq END)
                       AS hi
              FROM ranked GROUP BY label
            )
            SELECT s.label, count(*) AS n,
                   CAST(max(f.lo) AS BIGINT) AS p5_sq,
                   CAST(max(f.hi) AS BIGINT) AS p95_sq,
                   CAST(SUM(CASE WHEN s.sq < f.lo OR s.sq > f.hi
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
            FROM sq s JOIN fences f ON s.label = f.label
            GROUP BY s.label""",
        "cdc_upsert_compact": """
            WITH latest AS (
              SELECT user_id,
                     max(struct_pack(t := ts, e := event_id,
                       ty := event_type, v := value)) AS b,
                     count(*) AS n_versions
              FROM events GROUP BY user_id
            )
            SELECT user_id, (b).e AS last_event_id,
                   (b).v AS last_value, n_versions
            FROM latest WHERE (b).ty <> 'error'""",
        "cdc_scd2_history": """
            SELECT user_id, event_id, value AS attr_value,
                   strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
                   COALESCE(strftime(lead(ts) OVER w,
                     '%Y-%m-%d %H:%M:%S'), '9999-12-31') AS valid_to,
                   CAST(lead(ts) OVER w IS NULL AS INT) AS is_current
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""",
        "evt_entropy": """
            WITH c AS (
              SELECT user_id, event_type, count(*) AS c
              FROM events GROUP BY user_id, event_type
            ), t AS (
              SELECT user_id, event_type, c,
                     SUM(c) OVER (PARTITION BY user_id) AS n
              FROM c
            )
            SELECT user_id, CAST(MAX(n) AS BIGINT) AS n_events,
                   count(*) AS n_types,
                   CAST(SUM(length(bin(n // c)) * c) AS BIGINT)
                     AS surprisal_bits
            FROM t GROUP BY user_id""",
        "graph_supplier_rank": """
            WITH edges AS (
              SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
            ), deg AS (
              SELECT l_partkey, count(*) AS deg
              FROM edges GROUP BY l_partkey
            ), scored AS (
              SELECT l_suppkey, 1000000 // deg AS share
              FROM edges JOIN deg USING (l_partkey)
            ), ranked AS (
              SELECT l_suppkey,
                     CAST(SUM(share) AS BIGINT) AS rank_micro,
                     count(*) AS n_parts
              FROM scored GROUP BY l_suppkey
            )
            SELECT l_suppkey, rank_micro, n_parts,
                   row_number() OVER (ORDER BY rank_micro DESC,
                     l_suppkey ASC) AS rk
            FROM ranked
            ORDER BY rank_micro DESC, l_suppkey ASC LIMIT 25""",
        "pipeline_training_mix": f"""
            WITH scored AS (
              SELECT doc_id, lang,
                     {T.token_count_sql('text')} AS nt,
                     {T.quality_ppm_sql('text')} AS q,
                     md5(text) AS fp
              FROM documents
            ), gated AS (
              SELECT * FROM scored
              WHERE q >= {X.ppm(CORPUS_MIN_QUALITY)}
                AND nt BETWEEN {CORPUS_MIN_TOKENS} AND {CORPUS_MAX_TOKENS}
            ), kept AS (
              SELECT (k).doc_id AS doc_id, (k).lang AS lang,
                     (k).nt AS nt
              FROM (
                SELECT fp, min(struct_pack(doc_id := doc_id,
                  lang := lang, nt := nt)) AS k
                FROM gated GROUP BY fp
              )
            ), counts AS (
              SELECT lang, count(*) AS n_docs,
                     CAST(SUM(nt) AS BIGINT) AS n_tokens
              FROM kept GROUP BY lang
            ), powed AS (
              SELECT lang, n_docs, n_tokens,
                     CAST(floor(pow(CAST(n_tokens AS DOUBLE),
                       {MIXTURE_ALPHA}) * 1e6 + 0.5) AS BIGINT) AS wq
              FROM counts
            ), tot AS (SELECT SUM(wq) AS t FROM powed)
            SELECT lang, n_docs, n_tokens,
                   CAST((CAST(wq AS HUGEINT) * 1000000)
                        // CAST((SELECT t FROM tot) AS HUGEINT)
                        AS BIGINT) AS weight_ppm,
                   (wq * {MIXTURE_BUDGET_TOKENS}) // (SELECT t FROM tot)
                     AS quota_tokens
            FROM powed""",
        "emb_dim_variance": """
            WITH m AS (
              SELECT list_transform(embedding,
                       x -> CAST(round(x * 1e6) AS BIGINT)) AS xi
              FROM embeddings
            ), ex AS (
              SELECT xi, unnest(generate_series(1, len(xi))) AS d
              FROM m
            ), agg AS (
              SELECT CAST(d AS INT) AS dim_idx, count(*) AS n,
                     CAST(SUM(xi[d]) AS BIGINT) AS s1,
                     CAST(SUM(xi[d] * xi[d]) AS BIGINT) AS s2
              FROM ex GROUP BY d
            )
            SELECT dim_idx,
                   CAST(CAST(s1 AS HUGEINT) // CAST(n AS HUGEINT)
                        AS BIGINT) AS mean_micro,
                   CAST((CAST(n AS HUGEINT) * CAST(s2 AS HUGEINT)
                         - CAST(s1 AS HUGEINT) * CAST(s1 AS HUGEINT))
                        // (CAST(n AS HUGEINT) * (n - 1) * 1000000)
                        AS BIGINT) AS variance_ppm
            FROM agg""",
        "sample_balanced_classes": """
            WITH sizes AS (
              SELECT lang, count(*) AS n FROM documents GROUP BY lang
            ), floor_n AS (SELECT min(n) AS min_n FROM sizes),
            ranked AS (
              SELECT lang, doc_id,
                     row_number() OVER (PARTITION BY lang
                       ORDER BY md5(concat('bal:',
                         CAST(doc_id AS VARCHAR))), doc_id) AS rk
              FROM documents
            )
            SELECT lang, count(*) AS n_kept,
                   min(doc_id) AS first_doc, max(doc_id) AS last_doc
            FROM ranked
            WHERE rk <= (SELECT min_n FROM floor_n)
            GROUP BY lang""",
        "ts_mom_growth": """
            WITH monthly AS (
              SELECT o_orderpriority,
                     strftime(o_orderdate, '%Y-%m') AS month,
                     SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
              FROM orders GROUP BY 1, 2
            )
            SELECT o_orderpriority, month,
                   CAST(rev AS DOUBLE) AS rev,
                   CAST((CAST((rev - lag(rev) OVER w) * 100 AS HUGEINT)
                         * 1000000)
                        // CAST(lag(rev) OVER w * 100 AS HUGEINT)
                        AS BIGINT) AS mom_growth_ppm
            FROM monthly
            WINDOW w AS (PARTITION BY o_orderpriority ORDER BY month)""",
        "agg_deciles": """
            WITH spend AS (
              SELECT o_custkey,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                       AS DOUBLE) AS spend
              FROM orders GROUP BY o_custkey
            ), tiled AS (
              SELECT spend,
                     ntile(10) OVER (ORDER BY spend DESC,
                       o_custkey ASC) AS decile
              FROM spend
            )
            SELECT decile, count(*) AS n_customers,
                   round(CAST(SUM(CAST(spend AS DECIMAL(18,2)))
                     AS DOUBLE), 2) AS total_spend,
                   round(min(spend), 2) AS min_spend,
                   round(max(spend), 2) AS max_spend
            FROM tiled GROUP BY decile""",
        "agg_rfm_segments": """
            WITH maxd AS (SELECT max(o_orderdate) AS maxd FROM orders),
            per_cust AS (
              SELECT o_custkey,
                     min(datediff('day', o_orderdate,
                       (SELECT maxd FROM maxd))) AS recency_days,
                     count(*) AS frequency,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                       AS DOUBLE) AS monetary
              FROM orders GROUP BY o_custkey
            ), scored AS (
              SELECT o_custkey, recency_days, frequency, monetary,
                     ntile(4) OVER (ORDER BY recency_days ASC,
                       o_custkey ASC) AS r,
                     ntile(4) OVER (ORDER BY frequency DESC,
                       o_custkey ASC) AS f_,
                     ntile(4) OVER (ORDER BY monetary DESC,
                       o_custkey ASC) AS m
              FROM per_cust
            )
            SELECT r, f_, m, count(*) AS n_customers,
                   round(CAST(SUM(CAST(monetary AS DECIMAL(18,2)))
                     AS DOUBLE), 2) AS segment_value
            FROM scored GROUP BY r, f_, m""",
        "s7_stream_drain": f"""
            SELECT event_type, count(*) AS n_events,
                   {_dsum_sql('value')} AS sum_value,
                   min(event_id) AS min_id, max(event_id) AS max_id
            FROM events GROUP BY event_type""",
        "s8_stream_window": f"""
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00')
                     AS bucket,
                   event_type, count(*) AS n,
                   {_dsum_sql('value')} AS sum_value
            FROM events GROUP BY 1, 2""",
        "ts_order_intervals": """
            WITH gaps AS (
              SELECT o_orderpriority,
                     datediff('day', lag(o_orderdate) OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey), o_orderdate)
                       AS gap_days
              FROM orders
            )
            SELECT o_orderpriority, count(*) AS n_gaps,
                   CAST((CAST(SUM(CAST(gap_days AS BIGINT)) AS HUGEINT)
                         * 1000000)
                        // CAST(count(*) AS HUGEINT) AS BIGINT)
                     AS avg_gap_ppm,
                   min(gap_days) AS min_gap, max(gap_days) AS max_gap
            FROM gaps WHERE gap_days IS NOT NULL
            GROUP BY o_orderpriority""",
        "text_novelty": f"""
            WITH bg AS (
              SELECT doc_id,
                     unnest({T.word_shingles_sql('text', 2)}) AS sh
              FROM documents
            ), dfreq AS (
              SELECT sh, count(*) AS df FROM bg GROUP BY sh
            )
            SELECT bg.doc_id, count(*) AS n_bigrams,
                   CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_unique,
                   CAST((CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END)
                              AS HUGEINT) * 1000000)
                        // CAST(count(*) AS HUGEINT) AS BIGINT)
                     AS novelty_ppm
            FROM bg JOIN dfreq ON bg.sh = dfreq.sh
            GROUP BY bg.doc_id""",
        "sample_hard_negatives": f"""
            WITH cand AS ({_minhash_oracle(comparator="<",
                                           bands=HARD_NEG_BANDS)})
            SELECT id_a, id_b, jaccard_ppm, rk FROM (
              SELECT id_a, id_b, jaccard_ppm,
                     row_number() OVER (PARTITION BY id_a
                       ORDER BY jaccard_ppm DESC, id_b ASC) AS rk
              FROM cand
            ) WHERE rk <= 3""",
        "evt_dau_wau": """
            WITH du AS (
              SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day, user_id
              FROM events
            ), dau AS (
              SELECT day, count(*) AS dau FROM du GROUP BY day
            ), contrib AS (
              SELECT DISTINCT
                     strftime(unnest(generate_series(CAST(day AS DATE),
                       CAST(day AS DATE) + 6, INTERVAL 1 DAY)),
                       '%Y-%m-%d') AS day,
                     user_id
              FROM du
            ), wau AS (
              SELECT day, count(*) AS wau FROM contrib GROUP BY day
            )
            SELECT dau.day, dau, wau,
                   CAST((CAST(dau AS HUGEINT) * 1000000)
                        // CAST(wau AS HUGEINT) AS BIGINT)
                     AS stickiness_ppm
            FROM dau JOIN wau ON dau.day = wau.day""",
        "dedup_body_fingerprint": """
            SELECT min(doc_id) AS keeper_id, count(*) AS n_copies
            FROM (
              SELECT doc_id,
                     CASE WHEN len(string_split(lower(text), ' ')) > 10
                          THEN md5(array_to_string(
                            string_split(lower(text), ' ')[11:1000000], ' '))
                     END AS fp
              FROM documents
            )
            WHERE fp IS NOT NULL
            GROUP BY fp""",
        # The streaming router's full-topology drain, recomputed
        # declaratively: routing, ack policies, size- and
        # budget-chunking with trigger labels, handle_batch's billing
        # value-doubling, DLQ dispositions.
        "pipeline_topology_drain": """
            WITH base AS (
              SELECT event_id, user_id, event_type, value,
                     event_type <> 'error' AS ok,
                     CAST(floor(value * 100 + 0.5) AS BIGINT) AS w_cents,
                     CASE WHEN event_type = 'purchase' THEN 'billing'
                          ELSE 'default' END AS batcher,
                     CAST(user_id % 10 AS VARCHAR) AS batch_key,
                     CASE WHEN event_type = 'signup' THEN 'flush'
                          ELSE 'bulk' END AS batch_mode,
                     CASE WHEN event_type <> 'error' AND user_id % 7 = 0
                            THEN 'early'
                          WHEN event_type = 'error' AND user_id % 5 = 0
                            THEN 'retry'
                          ELSE 'late' END AS ack_policy
              FROM events
            ),
            billing AS (
              SELECT b.*,
                     CAST(floor((row_number() OVER (PARTITION BY batch_key
                       ORDER BY event_id) - 1) / 16) AS BIGINT) AS chunk_id
              FROM base b WHERE ok AND batcher = 'billing'
            ),
            billing_trig AS (
              SELECT *,
                     count(*) OVER (PARTITION BY batch_key, chunk_id)
                       AS bsz,
                     CASE WHEN batch_mode = 'flush' THEN 'flush'
                          WHEN count(*) OVER (PARTITION BY batch_key,
                            chunk_id) = 16 THEN 'size'
                          ELSE 'timeout' END AS trig
              FROM billing
            ),
            dflt AS (
              SELECT b.*,
                     CAST(floor((sum(w_cents) OVER (PARTITION BY batch_key
                       ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) - w_cents) / 20000.0) AS BIGINT)
                       AS chunk_id
              FROM base b WHERE ok AND batcher = 'default'
            ),
            dflt_trig AS (
              SELECT *,
                     count(*) OVER (PARTITION BY batch_key, chunk_id)
                       AS bsz,
                     CASE WHEN batch_mode = 'flush' THEN 'flush'
                          ELSE 'timeout' END AS trig
              FROM dflt
            ),
            acks AS (
              SELECT batcher, 'ok' AS outcome, 'early' AS trig,
                     CAST(-1 AS BIGINT) AS bsz
              FROM base WHERE ok AND ack_policy = 'early'
              UNION ALL
              SELECT batcher, 'failed', NULL, CAST(-1 AS BIGINT)
              FROM base WHERE NOT ok AND ack_policy <> 'retry'
              UNION ALL
              SELECT batcher, 'ok', trig, bsz
              FROM billing_trig WHERE ack_policy <> 'early'
              UNION ALL
              SELECT batcher, 'ok', trig, bsz
              FROM dflt_trig WHERE ack_policy <> 'early'
            )
            SELECT 'ack' AS section, batcher, outcome,
                   coalesce(trig, '-') AS "trigger", bsz,
                   count(*) AS n, CAST(NULL AS DOUBLE) AS sum_value
            FROM acks GROUP BY batcher, outcome, trig, bsz
            UNION ALL
            SELECT 'sink', 'billing', 'rows', '-', CAST(-1 AS BIGINT),
                   count(*),
                   CAST(SUM(CAST(value * 2 AS DECIMAL(18,2))) AS DOUBLE)
            FROM base WHERE ok AND batcher = 'billing'
            UNION ALL
            SELECT 'sink', 'default', 'rows', '-', CAST(-1 AS BIGINT),
                   count(*),
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
            FROM base WHERE ok AND batcher = 'default'
            UNION ALL
            SELECT 'dlq', batcher,
                   CASE WHEN ack_policy = 'retry' THEN 'retry'
                        ELSE 'terminal' END AS disposition,
                   '-', CAST(-1 AS BIGINT), count(*),
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
            FROM base WHERE NOT ok
            GROUP BY batcher, disposition""",
        # Stateful-batcher drain end state from group counts alone:
        # full chunks 'size'; remainder 'flush' if the group saw a
        # flush-mode row, else 'timeout' (timer); failed pass through.
        "s9_stateful_drain": """
            WITH base AS (
              SELECT event_id, user_id, event_type, value,
                     event_type <> 'error' AS ok,
                     CASE WHEN event_type = 'purchase' THEN 'billing'
                          ELSE 'default' END AS batcher,
                     CAST(user_id % 10 AS VARCHAR) AS batch_key,
                     CASE WHEN event_type = 'signup' THEN 'flush'
                          ELSE 'bulk' END AS batch_mode
              FROM events
            ),
            grp AS (
              SELECT batcher, batch_key,
                     CASE WHEN batcher = 'billing' THEN 16 ELSE 25 END
                       AS sz,
                     count(*) FILTER (WHERE ok) AS n_ok,
                     count(*) FILTER (WHERE NOT ok) AS n_failed,
                     coalesce(bool_or(ok AND batch_mode = 'flush'),
                       FALSE) AS has_flush
              FROM base GROUP BY batcher, batch_key
            ),
            ackrows AS (
              SELECT batcher, 'ok' AS outcome, 'size' AS trig,
                     CAST(sz AS BIGINT) AS bsz,
                     CAST((n_ok // sz) * sz AS BIGINT) AS cnt
              FROM grp WHERE n_ok >= sz
              UNION ALL
              SELECT batcher, 'ok',
                     CASE WHEN has_flush THEN 'flush' ELSE 'timeout' END,
                     CAST(n_ok % sz AS BIGINT), CAST(n_ok % sz AS BIGINT)
              FROM grp WHERE n_ok % sz > 0
              UNION ALL
              SELECT batcher, 'failed', 'flush',
                     CAST(n_failed AS BIGINT), CAST(n_failed AS BIGINT)
              FROM grp WHERE n_failed > 0
            )
            SELECT 'ack' AS section, batcher, outcome,
                   trig AS "trigger", bsz,
                   CAST(SUM(cnt) AS BIGINT) AS n,
                   CAST(NULL AS DOUBLE) AS sum_value
            FROM ackrows GROUP BY batcher, outcome, trig, bsz
            UNION ALL
            SELECT 'sink', batcher, 'rows', '-', CAST(-1 AS BIGINT),
                   count(*),
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
            FROM base WHERE ok GROUP BY batcher
            UNION ALL
            SELECT 'dlq', batcher, 'failed', '-', CAST(-1 AS BIGINT),
                   count(*),
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
            FROM base WHERE NOT ok GROUP BY batcher""",
    }
    # Restart-equivalence twins (s14–s17): the kill+resume drains must
    # converge to the SAME logical result as an uninterrupted run, so
    # s16/s17 share their non-restart queries' oracles verbatim; s14
    # gets the file-split-aware router twin and s15 the batch-split-
    # invariant totals twin (built beside the other drain oracles).
    sql["s14_restart_topology"] = _restart_topology_oracle()
    sql["s15_restart_stateful"] = _restart_stateful_oracle()
    sql["s16_restart_near_dedup"] = sql["s11_stream_near_dedup"]
    sql["s17_restart_join"] = sql["s12_stream_join"]
    sql["s18_restart_stream_dedup"] = sql["s10_stream_dedup"]
    # f3: same bucket table as f2 — restart-normalized batch numbering
    # (rank of min event_id) equals the uninterrupted numbering.
    sql["f3_restart_spool"] = sql["f2_rate_drain"]
    # restart twin: the resumed semi-join drain must equal the batch
    # EXISTS — the s29 oracle verbatim.
    sql["s31_restart_semi_join"] = sql["s29_stream_semi_join"]
    sql["s33_restart_anti_join"] = sql["s32_stream_anti_join"]
    # s34/s35: the admission accumulator's stream-lifetime totals are
    # batch-split- and kill-point-invariant, so one batch GROUP BY
    # serves both the drain and its restart twin (the s10/s18 pattern).
    sql["s34_stream_quality_gate"] = f"""
            WITH scored AS (
              SELECT lang,
                     {T.token_count_sql('text')} AS n_tokens,
                     {T.quality_ppm_sql('text')} AS q_ppm
              FROM documents
            ), flagged AS (
              SELECT CASE
                       WHEN q_ppm < {X.ppm(CORPUS_MIN_QUALITY)}
                         THEN 'rejected_quality'
                       WHEN n_tokens NOT BETWEEN {CORPUS_MIN_TOKENS}
                                             AND {CORPUS_MAX_TOKENS}
                         THEN 'rejected_length'
                       ELSE 'accepted'
                     END AS reason,
                     lang, n_tokens, q_ppm
              FROM scored
            )
            SELECT reason, lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
                   CAST(CAST(SUM(q_ppm) AS HUGEINT)
                        // CAST(count(*) AS HUGEINT) AS BIGINT)
                     AS mean_quality_ppm
            FROM flagged GROUP BY reason, lang"""
    sql["s35_restart_quality_gate"] = sql["s34_stream_quality_gate"]
    sql["l4_topology"] = """
            SELECT 'producer' AS layer, 'events' AS name,
                   'kind' AS setting, 'FileStreamSource' AS value
            UNION ALL SELECT 'processor','-','partition_by','user_id'
            UNION ALL SELECT 'processor','-','state_partitions','8'
            UNION ALL SELECT 'batcher','billing','batch_size','16'
            UNION ALL SELECT 'batcher','billing','batch_timeout_ms','250'
            UNION ALL SELECT 'batcher','billing','sink','sink_billing'
            UNION ALL SELECT 'batcher','default','batch_size',
                             '(''w_cents'', 20000.0)'
            UNION ALL SELECT 'batcher','default','batch_timeout_ms','500'
            UNION ALL SELECT 'batcher','default','sink','sink_default'"""
    # l5: the 12 always-emitted span counts are structural constants of
    # a one-micro-batch drain; the metadata rows recompute from events.
    sql["l5_spans"] = """
            SELECT 'span' AS kind, 'topology:init' AS name,
                   CAST(1 AS BIGINT) AS n
            UNION ALL SELECT 'span','processor:start',1
            UNION ALL SELECT 'span','processor:stop',1
            UNION ALL SELECT 'span','processor:message:start',1
            UNION ALL SELECT 'span','processor:message:stop',1
            UNION ALL SELECT 'span','processor:message:exception',1
            UNION ALL SELECT 'span','batch_processor:start',2
            UNION ALL SELECT 'span','batch_processor:stop',2
            UNION ALL SELECT 'span','handle_failed:start',1
            UNION ALL SELECT 'span','handle_failed:stop',1
            UNION ALL SELECT 'span','batcher:start',2
            UNION ALL SELECT 'span','batcher:stop',2
            UNION ALL SELECT 'meta','processor_messages',
                             (SELECT count(*) FROM events)
            UNION ALL SELECT 'meta','processor_failed',
                             (SELECT count(*) FROM events
                              WHERE event_type = 'error')
            UNION ALL SELECT 'meta','batcher_start_messages',
                             (SELECT count(*) FROM events
                              WHERE event_type <> 'error')"""
    sql["ds1_channel_netting"] = f"""
            SELECT channel, ship_year,
                   CAST(SUM(sales) AS DOUBLE) AS sales_amt,
                   CAST(SUM(returns) AS DOUBLE) AS returns_amt,
                   CAST(SUM(sales - returns) AS DOUBLE) AS net_amt
            FROM ({_CHANNEL_UNION_SQL})
            GROUP BY channel, ship_year"""
    sql["ds2_channel_rollup"] = f"""
            SELECT coalesce(channel, 'ALL') AS channel,
                   coalesce(CAST(ship_year AS VARCHAR), 'ALL') AS ship_year,
                   count(*) AS n,
                   CAST(SUM(sales) AS DOUBLE) AS sales_amt,
                   CAST(SUM(returns) AS DOUBLE) AS returns_amt,
                   CAST(SUM(sales - returns) AS DOUBLE) AS net_amt
            FROM ({_CHANNEL_UNION_SQL})
            GROUP BY ROLLUP(channel, ship_year)"""
    sql["ds3_returns_cohort"] = f"""
            WITH per_cust AS (
              SELECT o_custkey,
                     SUM(CAST(({_DP_SQL}) * 10000 AS BIGINT)) AS ret_units
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              WHERE l_returnflag = 'R'
              GROUP BY o_custkey
            ),
            withnat AS (
              SELECT p.o_custkey AS custkey, c.c_nationkey, p.ret_units
              FROM per_cust p JOIN customer c ON p.o_custkey = c.c_custkey
            ),
            stats AS (
              SELECT *, count(*) OVER (PARTITION BY c_nationkey) AS n,
                     SUM(ret_units) OVER (PARTITION BY c_nationkey) AS tot
              FROM withnat
            )
            SELECT custkey, n_name AS nation, ret_units
            FROM stats JOIN nation ON c_nationkey = n_nationkey
            WHERE ret_units * n * 10 > tot * 12"""
    sql["ds4_top_channel_years"] = f"""
            WITH agg AS (
              SELECT channel, ship_year,
                     CAST(SUM(sales - returns) AS DOUBLE) AS net_amt
              FROM ({_CHANNEL_UNION_SQL})
              GROUP BY channel, ship_year
            )
            SELECT channel, ship_year, net_amt, rk FROM (
              SELECT *, CAST(row_number() OVER (PARTITION BY channel
                       ORDER BY net_amt DESC, ship_year) AS INT) AS rk
              FROM agg
            ) WHERE rk <= 3"""
    sql["ds5_channel_yoy"] = f"""
            WITH agg AS (
              SELECT channel, ship_year,
                     SUM(sales - returns) AS net
              FROM ({_CHANNEL_UNION_SQL})
              GROUP BY channel, ship_year
            ),
            lagged AS (
              SELECT channel, ship_year, net,
                     lag(net) OVER (PARTITION BY channel
                       ORDER BY ship_year) AS prev
              FROM agg
            )
            SELECT channel, ship_year,
                   CAST(net AS DOUBLE) AS net_amt,
                   CAST(prev AS DOUBLE) AS prev_net_amt,
                   CAST(net - prev AS DOUBLE) AS delta_amt
            FROM lagged"""
    sql["ds6_channel_cumulative"] = f"""
            WITH r AS (
              SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
                     CASE WHEN l_returnflag = 'R' THEN -({_DP_SQL})
                          ELSE {_DP_SQL} END AS net,
                     {_CHANNEL_SQL} AS channel
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            ), m AS (
              SELECT ship_month,
                     SUM(CASE WHEN channel = 'web' THEN net
                              ELSE CAST(0 AS DECIMAL(18,2)) END) AS web_net,
                     SUM(CASE WHEN channel = 'store' THEN net
                              ELSE CAST(0 AS DECIMAL(18,2)) END) AS store_net
              FROM r GROUP BY ship_month
            )
            SELECT ship_month,
                   CAST(SUM(web_net) OVER w AS DOUBLE) AS cum_web,
                   CAST(SUM(store_net) OVER w AS DOUBLE)
                     AS cum_store,
                   CAST(SUM(web_net) OVER w > SUM(store_net) OVER w AS INT)
                     AS web_ahead
            FROM m
            WINDOW w AS (ORDER BY ship_month ROWS UNBOUNDED PRECEDING)"""
    sql["ds7_channel_exclusive"] = f"""
            WITH per_cust AS (
              SELECT o_custkey,
                     SUM(CASE WHEN ch = 'web' THEN 1 ELSE 0 END) AS n_web,
                     SUM(CASE WHEN ch = 'store' THEN 1 ELSE 0 END)
                       AS n_store,
                     SUM(CASE WHEN ch = 'web'
                              THEN CAST(o_totalprice AS DECIMAL(18,2))
                              ELSE CAST(0 AS DECIMAL(18,2)) END) AS web_spend
              FROM (SELECT o_custkey, o_totalprice,
                           {_CHANNEL_SQL} AS ch
                    FROM orders)
              GROUP BY o_custkey
            )
            SELECT n.n_name AS nation, count(*) AS n_customers,
                   CAST(SUM(n_web) AS BIGINT) AS web_orders,
                   CAST(SUM(web_spend) AS DOUBLE) AS web_spend
            FROM per_cust p
            JOIN customer c ON p.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            WHERE n_web > 0 AND n_store = 0
            GROUP BY n.n_name"""
    sql["graph_triangles"] = f"""
            WITH pp AS (
              SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
              FROM lineitem
            ),
            e AS (
              SELECT DISTINCT a.pk AS u, b.pk AS v
              FROM pp a JOIN pp b ON a.ok = b.ok AND a.pk < b.pk
            ),
            tri AS (
              SELECT e1.u AS a, e1.v AS b, e2.v AS c
              FROM e e1
              JOIN e e2 ON e2.u = e1.v
              JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
            ),
            pv AS (
              SELECT x, count(*) AS n FROM (
                SELECT a AS x FROM tri
                UNION ALL SELECT b FROM tri
                UNION ALL SELECT c FROM tri
              ) GROUP BY x
            ),
            topk AS (
              SELECT x, n,
                     CAST(row_number() OVER (ORDER BY n DESC, x) AS INT)
                       AS rk
              FROM pv
            )
            SELECT 'vertex' AS kind, x AS pk, CAST(n AS BIGINT) AS n, rk
            FROM topk WHERE rk <= {TRI_TOPK}
            UNION ALL
            SELECT 'triangles', CAST(-1 AS BIGINT),
                   (SELECT count(*) FROM tri), 0
            UNION ALL
            SELECT 'edges', CAST(-1 AS BIGINT), (SELECT count(*) FROM e), 0
            UNION ALL
            SELECT 'vertices', CAST(-1 AS BIGINT),
                   (SELECT count(DISTINCT pk) FROM pp), 0"""
    _band_cols = ",\n                   ".join(
        f"CAST(count(*) FILTER (WHERE hour(ts) >= {DS8_BAND_HOURS * i}"
        f" AND hour(ts) < {DS8_BAND_HOURS * (i + 1)}) AS BIGINT)"
        f" AS band_h{DS8_BAND_HOURS * i:02d}"
        for i in range(8)
    )
    sql["ds8_time_bands"] = f"""
            SELECT event_type,
                   {_band_cols},
                   count(*) AS n_total
            FROM events GROUP BY event_type"""
    sql["ds9_rollup_topk"] = f"""
            WITH agg AS (
              SELECT p_brand AS brand, year(l_shipdate) AS ship_year,
                     SUM({_DP_SQL}) AS net
              FROM lineitem JOIN part ON l_partkey = p_partkey
              GROUP BY ROLLUP(brand, ship_year)
            ),
            leveled AS (
              SELECT *,
                     CAST(CASE WHEN brand IS NULL AND ship_year IS NULL
                               THEN 2
                               WHEN ship_year IS NULL THEN 1
                               ELSE 0 END AS INT) AS lvl
              FROM agg
            )
            SELECT lvl, brand, CAST(ship_year AS INT) AS ship_year,
                   CAST(net AS DOUBLE) AS net_amt, rk
            FROM (
              SELECT *, CAST(row_number() OVER (PARTITION BY lvl
                       ORDER BY net DESC, coalesce(brand, ''),
                                coalesce(ship_year, -1)) AS INT) AS rk
              FROM leveled
            ) WHERE rk <= {DS9_TOPK}"""
    sql["text_readability"] = """
            WITH base AS (
              SELECT doc_id,
                     CAST(len(string_split(text, ' ')) AS BIGINT)
                       AS n_words,
                     CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                       AS BIGINT) AS n_syllables
              FROM documents
            ),
            scored AS (
              SELECT *, CAST((100 * n_syllables) // n_words AS BIGINT)
                       AS syl_per_100w
              FROM base
            )
            SELECT doc_id, n_words, n_syllables, syl_per_100w,
                   CASE WHEN syl_per_100w < 130 THEN 'easy'
                        WHEN syl_per_100w < 170 THEN 'medium'
                        ELSE 'hard' END AS band
            FROM scored"""
    sql["s20_stream_upsert"] = """
            SELECT user_id, count(*) AS n_purchases,
                   round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE),
                         2) AS spend
            FROM events WHERE event_type = 'purchase'
            GROUP BY user_id"""
    sql["s21_restart_upsert"] = sql["s20_stream_upsert"]
    sql["s23_snapshot_diff"] = f"""
            WITH tiled AS (
              SELECT user_id, event_type, value,
                     ntile({RESTART_M}) OVER (ORDER BY ts, event_id) - 1
                       AS file_idx
              FROM events
            ), last_file AS (
              SELECT user_id, CAST(count(*) AS BIGINT) AS delta_n,
                     SUM(CAST(value AS DECIMAL(18,2))) AS dspend
              FROM tiled
              WHERE event_type = 'purchase'
                AND file_idx = {RESTART_M - 1}
              GROUP BY user_id
            ), before AS (
              SELECT DISTINCT user_id FROM tiled
              WHERE event_type = 'purchase'
                AND file_idx < {RESTART_M - 1}
            ), total AS (
              SELECT user_id, CAST(count(*) AS BIGINT) AS n_total
              FROM tiled WHERE event_type = 'purchase'
              GROUP BY user_id
            )
            SELECT l.user_id,
                   CASE WHEN b.user_id IS NULL THEN 'inserted'
                        ELSE 'updated' END AS status,
                   l.delta_n,
                   round(CAST(l.dspend AS DOUBLE), 2) AS delta_spend,
                   t.n_total
            FROM last_file l
            LEFT JOIN before b ON l.user_id = b.user_id
            JOIN total t ON l.user_id = t.user_id"""
    _pr_base = (15 * PR_UNIT) // 100
    _pr_iters = "".join(
        f""",
            r{i + 1} AS (
              SELECT e.dst AS pk,
                     CAST({_pr_base} + (85 * SUM(r.r // d.deg)) // 100
                       AS BIGINT) AS r
              FROM edges e
              JOIN deg d ON e.src = d.src
              JOIN r{i} r ON r.pk = e.src
              GROUP BY e.dst
            )"""
        for i in range(PR_ITERS)
    )
    sql["graph_kcore"] = _kcore_oracle()
    sql["graph_pagerank"] = f"""
            WITH pp AS (
              SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
              FROM lineitem
            ),
            und AS (
              SELECT DISTINCT a.pk AS u, b.pk AS v
              FROM pp a JOIN pp b ON a.ok = b.ok AND a.pk < b.pk
            ),
            edges AS (
              SELECT u AS src, v AS dst FROM und
              UNION ALL SELECT v, u FROM und
            ),
            deg AS (
              SELECT src, count(*) AS deg FROM edges GROUP BY src
            ),
            r0 AS (
              SELECT src AS pk, CAST({PR_UNIT} AS BIGINT) AS r FROM deg
            ){_pr_iters}
            SELECT 'vertex' AS kind, pk, r AS rank_micro, rk FROM (
              SELECT pk, r,
                     CAST(row_number() OVER (ORDER BY r DESC, pk) AS INT)
                       AS rk
              FROM r{PR_ITERS}
            ) WHERE rk <= {PR_TOPK}
            UNION ALL
            SELECT 'vertices', CAST(-1 AS BIGINT),
                   (SELECT count(*) FROM deg), 0"""
    sql["sketch_hll_intersection"] = f"""
            WITH labeled AS (
              SELECT 'a' AS s, user_id FROM events
              WHERE event_type = 'purchase'
              UNION ALL
              SELECT 'b', user_id FROM events WHERE event_type = 'click'
              UNION ALL
              SELECT 'ab', user_id FROM events
              WHERE event_type = 'purchase'
              UNION ALL
              SELECT 'ab', user_id FROM events WHERE event_type = 'click'
            ),
            est AS (
              {K.hll_count_distinct_sql('labeled', ['s'], 'user_id',
                                        seed=HLL_SEED)}
            ),
            wide AS (
              SELECT MAX(CASE WHEN s = 'a' THEN n_hll END) AS n_a_hll,
                     MAX(CASE WHEN s = 'b' THEN n_hll END) AS n_b_hll,
                     MAX(CASE WHEN s = 'ab' THEN n_hll END) AS n_union_hll
              FROM est
            ),
            ex AS (
              SELECT count(*) AS n_exact FROM (
                SELECT user_id FROM events WHERE event_type = 'purchase'
                INTERSECT
                SELECT user_id FROM events WHERE event_type = 'click'
              )
            )
            SELECT n_a_hll, n_b_hll, n_union_hll,
                   n_a_hll + n_b_hll - n_union_hll AS n_inter_hll, n_exact
            FROM wide, ex"""
    _ks_hash = H.portable_hash_sql(
        "concat(CAST(l_orderkey AS VARCHAR), '-', "
        "CAST(l_linenumber AS VARCHAR))",
        seed=KS_SEED,
    )
    sql["sample_ks_audit"] = f"""
            WITH per AS (
              SELECT CAST(l_quantity AS BIGINT) AS qty,
                     count(*) AS n_full,
                     CAST(SUM(CASE WHEN {_ks_hash} % {KS_SAMPLE_MOD} = 0
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_samp
              FROM lineitem GROUP BY qty
            ),
            cums AS (
              SELECT qty, n_full, n_samp,
                     SUM(n_full) OVER w AS cf, SUM(n_samp) OVER w AS cs,
                     SUM(n_full) OVER () AS tf, SUM(n_samp) OVER () AS ts
              FROM per
              WINDOW w AS (ORDER BY qty ROWS UNBOUNDED PRECEDING)
            )
            SELECT qty, n_full, n_samp,
                   CAST((cf * 1000000) // tf AS BIGINT) AS cum_full_ppm,
                   CAST((cs * 1000000) // ts AS BIGINT) AS cum_samp_ppm,
                   CAST(abs((cf * 1000000) // tf - (cs * 1000000) // ts)
                     AS BIGINT) AS dev_ppm
            FROM cums"""
    sql["pipeline_filter_report"] = f"""
            WITH flags AS (
              SELECT lang,
                     CASE WHEN len(string_split(text, ' '))
                          < {FILTER_MIN_WORDS} THEN 1 ELSE 0 END AS f_short,
                     CASE WHEN len(regexp_extract_all(lower(text),
                            '[aeiouy]+')) * 100
                          >= {FILTER_HARD_SYL}
                             * len(string_split(text, ' '))
                          THEN 1 ELSE 0 END AS f_hard,
                     CASE WHEN len(list_distinct(string_split(text, ' ')))
                            * 100
                          < {FILTER_TTR_PCT} * len(string_split(text, ' '))
                          THEN 1 ELSE 0 END AS f_lowdiv
              FROM documents
            )
            SELECT lang, count(*) AS n_docs,
                   CAST(SUM(f_short) AS BIGINT) AS n_short,
                   CAST(SUM(f_hard) AS BIGINT) AS n_hard,
                   CAST(SUM(f_lowdiv) AS BIGINT) AS n_lowdiv,
                   CAST(SUM(CASE WHEN f_short + f_hard + f_lowdiv = 0
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
            FROM flags GROUP BY lang"""
    sql["s22_stream_outer_join"] = """
            WITH cutoff AS (
              SELECT least(
                       epoch_us(max(ts) FILTER (event_type = 'purchase')),
                       epoch_us(max(ts) FILTER (event_type = 'click')))
                     - CAST(10800000000 AS BIGINT) AS c
              FROM events
            )
            SELECT p.event_id AS purchase_id, p.user_id,
                   epoch_us(p.ts) AS p_ts_us,
                   c.event_id AS click_id,
                   epoch_us(p.ts) - epoch_us(c.ts) AS gap_micros
            FROM events p LEFT JOIN events c
              ON p.user_id = c.user_id
             AND c.event_type = 'click'
             AND c.ts >= p.ts - INTERVAL 1 HOUR
             AND c.ts <= p.ts
            WHERE p.event_type = 'purchase'
              AND epoch_us(p.ts) <= (SELECT c FROM cutoff)"""
    sql["aj3_asof_forward"] = """
            WITH u AS (
              SELECT user_id, ts, 1 AS is_l, CAST(-1 AS BIGINT) AS ord,
                     event_id,
                     CAST(NULL AS BIGINT) AS r_event_id,
                     CAST(NULL AS DOUBLE) AS r_value
              FROM events WHERE event_type = 'purchase'
              UNION ALL
              SELECT user_id, ts, 0, event_id,
                     CAST(NULL AS BIGINT), event_id, value
              FROM events WHERE event_type = 'click'
            ), w AS (
              SELECT user_id, ts, is_l, event_id,
                     last_value(r_event_id IGNORE NULLS) OVER win
                       AS click_id,
                     last_value(r_value IGNORE NULLS) OVER win
                       AS click_value,
                     last_value(CASE WHEN is_l = 0 THEN ts END IGNORE NULLS)
                       OVER win AS m_ts
              FROM u
              WINDOW win AS (PARTITION BY user_id
                             ORDER BY ts DESC, is_l, ord
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW)
            )
            SELECT event_id AS purchase_id, user_id,
                   CASE WHEN m_ts <= ts + INTERVAL 2 HOURS
                        THEN click_id END AS click_id,
                   CASE WHEN m_ts <= ts + INTERVAL 2 HOURS
                        THEN click_value END AS click_value,
                   CASE WHEN m_ts <= ts + INTERVAL 2 HOURS
                        THEN epoch_us(m_ts) - epoch_us(ts) END AS gap_us
            FROM w WHERE is_l = 1"""
    sql["graph_edge_strength"] = f"""
            WITH pp AS (
              SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
              FROM lineitem
            ),
            e AS (
              SELECT DISTINCT a.pk AS u, b.pk AS v
              FROM pp a JOIN pp b ON a.ok = b.ok AND a.pk < b.pk
            ),
            deg AS (
              SELECT x, count(*) AS d FROM (
                SELECT u AS x FROM e UNION ALL SELECT v FROM e
              ) GROUP BY x
            ),
            tri AS (
              SELECT e1.u AS a, e1.v AS b, e2.v AS c
              FROM e e1
              JOIN e e2 ON e2.u = e1.v
              JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
            ),
            pairs AS (
              SELECT u, v, count(*) AS common FROM (
                SELECT a AS u, b AS v FROM tri
                UNION ALL SELECT a, c FROM tri
                UNION ALL SELECT b, c FROM tri
              ) GROUP BY u, v
            ),
            scored AS (
              SELECT p.u, p.v, CAST(p.common AS BIGINT) AS common,
                     CAST(d1.d AS BIGINT) AS du, CAST(d2.d AS BIGINT) AS dv,
                     CAST((CAST(1000000 AS HUGEINT) * p.common)
                          // (d1.d + d2.d - 2 - p.common) AS BIGINT)
                       AS jacc_ppm
              FROM pairs p
              JOIN deg d1 ON d1.x = p.u
              JOIN deg d2 ON d2.x = p.v
            )
            SELECT u, v, common, du, dv, jacc_ppm, rk FROM (
              SELECT *, CAST(row_number() OVER (ORDER BY jacc_ppm DESC,
                       u, v) AS INT) AS rk
              FROM scored
            ) WHERE rk <= {EDGE_TOPK}"""
    sql["ij1_interval_overlap"] = """
            WITH iv AS (
              SELECT l_suppkey AS suppkey,
                     l_orderkey * 10 + l_linenumber AS iid,
                     date_diff('day', DATE '1970-01-01',
                               CAST(l_shipdate AS DATE)) AS s,
                     date_diff('day', DATE '1970-01-01',
                               CAST(l_shipdate AS DATE))
                       + CAST(l_quantity AS INT) % 7 AS e
              FROM lineitem
              WHERE l_shipdate >= '1995-01-01'
                AND l_shipdate < '1996-01-01'
            )
            SELECT a.suppkey AS suppkey, count(*) AS n_pairs,
                   CAST(SUM(least(a.e, b.e) - greatest(a.s, b.s) + 1)
                     AS BIGINT) AS sum_overlap_days,
                   CAST(MAX(least(a.e, b.e) - greatest(a.s, b.s) + 1)
                     AS BIGINT) AS max_overlap_days
            FROM iv a JOIN iv b
              ON a.suppkey = b.suppkey AND a.iid < b.iid
             AND a.s <= b.e AND b.s <= a.e
            GROUP BY a.suppkey"""
    sql["rel_skyline"] = """
            SELECT p1.p_partkey, p1.p_retailprice, p1.p_size
            FROM part p1
            WHERE NOT EXISTS (
              SELECT 1 FROM part p2
              WHERE p2.p_retailprice <= p1.p_retailprice
                AND p2.p_size >= p1.p_size
                AND (p2.p_retailprice < p1.p_retailprice
                     OR p2.p_size > p1.p_size))"""
    sql["evt_attribution_decay"] = f"""
            SELECT t.event_type AS channel,
                   count(*) AS n_credits,
                   CAST(SUM(CAST(1 AS BIGINT)
                        << CAST({DECAY_MAX_DAYS}
                           - (epoch_us(p.ts) - epoch_us(t.ts))
                             // 86400000000 AS INT)) AS BIGINT)
                     AS credit_units
            FROM events p JOIN events t
              ON t.user_id = p.user_id
             AND t.event_type <> 'purchase'
             AND epoch_us(t.ts) <= epoch_us(p.ts)
             AND epoch_us(t.ts) > epoch_us(p.ts)
                 - CAST({DECAY_MAX_DAYS} AS BIGINT) * 86400000000
            WHERE p.event_type = 'purchase'
            GROUP BY t.event_type"""
    sql["rec_item_cosine"] = f"""
            WITH bi AS (
              SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            ), deg AS (
              SELECT l_partkey, count(*) AS deg FROM bi GROUP BY l_partkey
            ), co AS (
              SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                     count(*) AS co
              FROM bi a JOIN bi b
                ON a.l_orderkey = b.l_orderkey
               AND a.l_partkey < b.l_partkey
              GROUP BY a.l_partkey, b.l_partkey
            ), scored AS (
              SELECT part_a, part_b, CAST(co AS BIGINT) AS co,
                     CAST(CASE WHEN CAST(co AS HUGEINT) * co
                          < CAST('100000000000000000000000000000000'
                                 AS HUGEINT)
                          THEN CAST(co AS HUGEINT) * co * 1000000
                               // (CAST(da.deg AS HUGEINT) * db.deg)
                          ELSE CAST(floor(CAST(co AS DOUBLE)
                               / CAST(da.deg AS DOUBLE)
                               * CAST(co AS DOUBLE)
                               / CAST(db.deg AS DOUBLE) * 1000000.0)
                               AS HUGEINT)
                          END AS BIGINT) AS cos2_ppm
              FROM co
              JOIN deg da ON da.l_partkey = part_a
              JOIN deg db ON db.l_partkey = part_b
            )
            SELECT part_a, part_b, co, cos2_ppm FROM (
              SELECT *, row_number() OVER (ORDER BY cos2_ppm DESC, co DESC,
                       part_a, part_b) AS rk
              FROM scored
            ) WHERE rk <= {REC_TOPK}"""
    sql["cdc_pit_join"] = """
            WITH dim AS (
              SELECT user_id, ts AS valid_from,
                     coalesce(lead(ts) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id),
                              TIMESTAMP '9999-12-31') AS valid_to,
                     event_id AS dim_event_id, value AS attr_value
              FROM events WHERE event_type IN ('signup', 'view')
            )
            SELECT p.event_id AS purchase_id, p.user_id,
                   d.dim_event_id, d.attr_value
            FROM events p LEFT JOIN dim d
              ON d.user_id = p.user_id
             AND p.ts >= d.valid_from AND p.ts < d.valid_to
            WHERE p.event_type = 'purchase'"""
    sql["graph_bfs"] = f"""
            WITH RECURSIVE bi AS (
              SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            ), half AS (
              SELECT a.l_partkey AS u, b.l_partkey AS v
              FROM bi a JOIN bi b
                ON a.l_orderkey = b.l_orderkey
               AND a.l_partkey < b.l_partkey
              GROUP BY a.l_partkey, b.l_partkey
              HAVING count(*) >= {BFS_MIN_CO}
            ), e AS (
              SELECT u, v FROM half UNION ALL SELECT v, u FROM half
            ), seeds AS (
              SELECT DISTINCT u AS node FROM e
              WHERE u % {BFS_SEED_MOD} = 0
            ), walk AS (
              SELECT node, 0 AS dist FROM seeds
              UNION
              SELECT e.v, w.dist + 1 FROM walk w JOIN e ON e.u = w.node
              WHERE w.dist < {BFS_MAX_DEPTH}
            )
            SELECT node AS p_partkey, CAST(min(dist) AS INT) AS dist
            FROM walk GROUP BY node"""
    sql["s24_stream_full_outer"] = """
            WITH cutoff AS (
              SELECT least(
                       epoch_us(max(ts) FILTER (event_type = 'purchase')),
                       epoch_us(max(ts) FILTER (event_type = 'click')))
                     - CAST(10800000000 AS BIGINT) AS c
              FROM events
            ), p AS (
              SELECT event_id AS purchase_id, user_id, ts AS p_ts
              FROM events WHERE event_type = 'purchase'
            ), cl AS (
              SELECT event_id AS click_id, user_id, ts AS c_ts
              FROM events WHERE event_type = 'click'
            )
            SELECT p.purchase_id,
                   coalesce(p.user_id, cl.user_id) AS user_id,
                   epoch_us(p.p_ts) AS p_ts_us,
                   cl.click_id,
                   epoch_us(cl.c_ts) AS c_ts_us
            FROM p FULL JOIN cl
              ON p.user_id = cl.user_id
             AND cl.c_ts >= p.p_ts - INTERVAL 1 HOUR
             AND cl.c_ts <= p.p_ts
            WHERE (p.p_ts IS NULL
                   OR epoch_us(p.p_ts) <= (SELECT c FROM cutoff))
              AND (cl.c_ts IS NULL
                   OR epoch_us(cl.c_ts) <= (SELECT c FROM cutoff))"""
    sql["s25_stream_dropdup_watermark"] = f"""
            SELECT DISTINCT user_id,
                   epoch_us(ts) // {S25_BUCKET_US} * {S25_BUCKET_US}
                     AS bucket_us,
                   event_type
            FROM events"""
    sql["pack_bucket_join"] = f"""
            SELECT o_orderpriority, count(*) AS n_items,
                   {_dsum_sql('l_extendedprice')} AS sum_price
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderpriority"""
    # the restart twin's post-resume layout must answer identically to
    # the plain join — same spec as pack_bucket_join.
    sql["s28_restart_bucketed"] = sql["pack_bucket_join"]
    sql["ij2_interval_containment"] = """
            WITH iv AS (
              SELECT l_suppkey AS suppkey,
                     l_orderkey * 10 + l_linenumber AS iid,
                     date_diff('day', DATE '1970-01-01',
                               CAST(l_shipdate AS DATE)) AS s,
                     date_diff('day', DATE '1970-01-01',
                               CAST(l_shipdate AS DATE))
                       + CAST(l_quantity AS INT) % 7 AS e
              FROM lineitem
              WHERE l_shipdate >= '1995-01-01'
                AND l_shipdate < '1996-01-01'
            )
            SELECT a.suppkey AS suppkey, a.iid AS iid,
                   count(*) AS n_contained,
                   CAST(MAX(b.e - b.s) AS BIGINT) AS max_inner_span
            FROM iv a JOIN iv b
              ON a.suppkey = b.suppkey AND a.iid <> b.iid
             AND a.s <= b.s AND b.e <= a.e
             AND a.e - a.s > b.e - b.s
            GROUP BY a.suppkey, a.iid"""
    sql["skew_advisor"] = f"""
            WITH per_key AS (
              SELECT l_suppkey AS key, count(*) AS cnt
              FROM lineitem GROUP BY l_suppkey
            ), tot AS (
              SELECT CAST(SUM(cnt) AS BIGINT) AS total,
                     CAST(count(*) AS BIGINT) AS n_keys
              FROM per_key
            )
            SELECT key, CAST(cnt AS BIGINT) AS cnt,
                   CAST(cnt * CAST(1000000 AS BIGINT) // total AS BIGINT)
                     AS share_ppm,
                   CAST((cnt * n_keys + total - 1) // total AS BIGINT)
                     AS salt_factor
            FROM (
              SELECT *, row_number() OVER (ORDER BY cnt DESC, key) AS rk
              FROM per_key CROSS JOIN tot
            ) WHERE rk <= {SKEW_TOPK}"""
    sql["s26_restart_full_outer"] = sql["s24_stream_full_outer"]
    sql["sql1_shared_ansi"] = ANSI_SHARED_SQL
    sql["s27_restart_dropdup"] = sql["s25_stream_dropdup_watermark"]
    sql["ts_gaps"] = """
            WITH days AS (
              SELECT DISTINCT l_suppkey AS suppkey,
                     date_diff('day', DATE '1970-01-01',
                               CAST(l_shipdate AS DATE)) AS d
              FROM lineitem
            ), bounds AS (
              SELECT suppkey, min(d) AS lo, max(d) AS hi
              FROM days GROUP BY suppkey
            ), spine AS (
              SELECT suppkey, unnest(generate_series(lo, hi)) AS d
              FROM bounds
            ), missing AS (
              SELECT s.suppkey, s.d FROM spine s
              LEFT JOIN days o ON o.suppkey = s.suppkey AND o.d = s.d
              WHERE o.d IS NULL
            ), grouped AS (
              SELECT suppkey, d,
                     d - dense_rank() OVER (PARTITION BY suppkey
                                            ORDER BY d) AS grp
              FROM missing
            ), runs AS (
              SELECT suppkey, grp, count(*) AS run_len
              FROM grouped GROUP BY suppkey, grp
            )
            SELECT suppkey,
                   CAST(SUM(run_len) AS BIGINT) AS n_missing_days,
                   CAST(max(run_len) AS BIGINT) AS longest_gap
            FROM runs GROUP BY suppkey"""
    sql["agg_gini"] = f"""
            WITH per_cust AS (
              SELECT c_nationkey, c_custkey,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                       AS BIGINT) AS cents
              FROM orders JOIN customer ON o_custkey = c_custkey
              GROUP BY c_nationkey, c_custkey
            ), ranked AS (
              SELECT c_nationkey, cents,
                     CAST(row_number() OVER (PARTITION BY c_nationkey
                          ORDER BY cents, c_custkey) AS BIGINT) AS rk
              FROM per_cust
            )
            SELECT c_nationkey,
                   CAST(count(*) AS BIGINT) AS n_customers,
                   CAST(SUM(cents) AS BIGINT) AS total_cents,
                   CAST((2 * SUM(rk * cents) - (count(*) + 1) * SUM(cents))
                        * CAST({GINI_SCALE} AS BIGINT)
                        // (count(*) * SUM(cents)) AS BIGINT) AS gini_ppm
            FROM ranked GROUP BY c_nationkey"""
    # r9 adversarial edge family: the byte-identical degenerate
    # derivation (see _edge_text_sql) applied in DuckDB, then the same
    # *_sql twins as the production text queries.
    sql["sim_hybrid_rrf"] = _rrf_oracle()
    sql["sketch_cms_heavy_hitters"] = _cms_hh_oracle()
    sql["rec_assoc_rules"] = f"""
            WITH bi AS (
              SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            ), nbt AS (
              SELECT count(DISTINCT l_orderkey) AS nb FROM bi
            ), deg AS (
              SELECT l_partkey, count(*) AS deg FROM bi GROUP BY 1
            ), co AS (
              SELECT a.l_partkey AS pa, b.l_partkey AS pb,
                     count(*) AS co
              FROM bi a JOIN bi b
                ON a.l_orderkey = b.l_orderkey
               AND a.l_partkey < b.l_partkey
              GROUP BY 1, 2 HAVING count(*) >= {ASSOC_MIN_CO}
            ), directed AS (
              SELECT pa AS ante, pb AS cons, co FROM co
              UNION ALL
              SELECT pb AS ante, pa AS cons, co FROM co
            ), scored AS (
              SELECT ante, cons, CAST(co AS BIGINT) AS co,
                     CAST(CAST(co AS HUGEINT) * 1000000 // nb
                       AS BIGINT) AS support_ppm,
                     CAST(CAST(co AS HUGEINT) * 1000000 // da.deg
                       AS BIGINT) AS confidence_ppm,
                     CAST(CASE WHEN CAST(co AS HUGEINT) * nb
                          < CAST('100000000000000000000000000000000'
                                 AS HUGEINT)
                          THEN CAST(co AS HUGEINT) * nb * 1000000
                               // (CAST(da.deg AS HUGEINT) * dc.deg)
                          ELSE CAST(floor(CAST(co AS DOUBLE)
                               / CAST(da.deg AS DOUBLE)
                               / CAST(dc.deg AS DOUBLE)
                               * CAST(nb AS DOUBLE) * 1000000.0)
                               AS HUGEINT)
                          END AS BIGINT) AS lift_ppm
              FROM directed
              JOIN deg da ON da.l_partkey = ante
              JOIN deg dc ON dc.l_partkey = cons
              CROSS JOIN nbt
            )
            SELECT * FROM scored
            ORDER BY lift_ppm DESC, ante, cons LIMIT {ASSOC_TOPK}"""
    sql["agg_majority_vote"] = f"""
            WITH counts AS (
              SELECT CAST(event_id % {VOTE_ITEM_MOD} AS BIGINT) AS item,
                     event_type AS label, count(*) AS n
              FROM events GROUP BY 1, 2
            ), ranked AS (
              SELECT item, label, n,
                     row_number() OVER (PARTITION BY item
                       ORDER BY n DESC, label ASC) AS rk,
                     SUM(n) OVER (PARTITION BY item) AS total
              FROM counts
            )
            SELECT item, label AS majority_label,
                   CAST(n AS BIGINT) AS n_votes,
                   CAST(total AS BIGINT) AS n_total,
                   CAST(n * CAST(1000000 AS HUGEINT) // total
                     AS BIGINT) AS agree_ppm
            FROM ranked WHERE rk = 1"""
    sql["agg_hhi_concentration"] = """
            WITH per_cust AS (
              SELECT c_nationkey, c_custkey,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                       AS BIGINT) AS cents
              FROM orders JOIN customer ON o_custkey = c_custkey
              GROUP BY c_nationkey, c_custkey
            )
            SELECT c_nationkey,
                   count(*) AS n_customers,
                   CAST(SUM(cents) AS BIGINT) AS total_cents,
                   CAST(CASE WHEN SUM(CAST(cents AS HUGEINT) * cents)
                             < CAST('100000000000000000000000000000000'
                                    AS HUGEINT)
                        THEN SUM(CAST(cents AS HUGEINT) * cents)
                             * CAST(1000000 AS HUGEINT)
                             // (SUM(CAST(cents AS HUGEINT))
                                 * SUM(CAST(cents AS HUGEINT)))
                        ELSE CAST(floor(
                             CAST(SUM(CAST(cents AS HUGEINT) * cents)
                                  AS DOUBLE)
                             / CAST(SUM(CAST(cents AS HUGEINT))
                                    AS DOUBLE)
                             / CAST(SUM(CAST(cents AS HUGEINT))
                                    AS DOUBLE)
                             * 1000000.0) AS HUGEINT)
                        END AS BIGINT) AS hhi_ppm
            FROM per_cust GROUP BY c_nationkey"""
    sql["edge_skew_constant_key"] = """
            SELECT 'the_only_key' AS k, count(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                     AS sum_value,
                   min(event_id) AS min_id, max(event_id) AS max_id
            FROM events"""
    sql["pipeline_dataset_card"] = f"""
            WITH scored AS (
              SELECT source,
                     {T.token_count_sql('text')} AS n_tokens,
                     {T.quality_ppm_sql('text')} AS q_micro,
                     {T.language_id_sql('text')} AS lang_pred,
                     {H.fingerprint_sql('text')} AS fp
              FROM documents
            )
            SELECT source,
                   count(*) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                   CAST(SUM(q_micro) // count(*) AS BIGINT)
                     AS mean_quality_micro,
                   CAST(count(DISTINCT lang_pred) AS BIGINT) AS n_langs,
                   CAST(count(DISTINCT fp) AS BIGINT) AS n_unique,
                   CAST((count(*) - count(DISTINCT fp))
                        * CAST(1000000 AS HUGEINT) // count(*)
                     AS BIGINT) AS dup_ppm
            FROM scored GROUP BY source"""
    sql["multimodal_resize_plan"] = f"""
            WITH src AS (
              SELECT doc_id,
                     CAST(16 + doc_id % 512 AS INT) AS src_w,
                     CAST(16 + (doc_id * 7) % 512 AS INT) AS src_h
              FROM documents
            )
            SELECT doc_id, src_w, src_h,
                   CAST(CASE WHEN src_w >= src_h THEN {RESIZE_TARGET}
                        ELSE CAST(src_w AS BIGINT) * {RESIZE_TARGET}
                             // src_h END AS BIGINT) AS out_w,
                   CAST(CASE WHEN src_w >= src_h
                        THEN CAST(src_h AS BIGINT) * {RESIZE_TARGET}
                             // src_w
                        ELSE {RESIZE_TARGET} END AS BIGINT) AS out_h,
                   CAST({RESIZE_TARGET} - (CASE WHEN src_w >= src_h
                        THEN {RESIZE_TARGET}
                        ELSE CAST(src_w AS BIGINT) * {RESIZE_TARGET}
                             // src_h END) AS BIGINT) AS pad_x,
                   CAST({RESIZE_TARGET} - (CASE WHEN src_w >= src_h
                        THEN CAST(src_h AS BIGINT) * {RESIZE_TARGET}
                             // src_w
                        ELSE {RESIZE_TARGET} END) AS BIGINT) AS pad_y
            FROM src"""
    sql["evt_ewma_dyadic"] = f"""
            WITH recent AS (
              SELECT user_id,
                     CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                       AS cents,
                     row_number() OVER (PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC) AS age
              FROM events
            )
            SELECT user_id, count(*) AS n_recent,
                   CAST(MAX(CASE WHEN age = 1 THEN cents END)
                     AS BIGINT) AS latest_cents,
                   CAST(SUM((CAST(1 AS BIGINT)
                             << ({EWMA_HORIZON} - age)) * cents)
                     AS BIGINT) AS ewma_units
            FROM recent WHERE age <= {EWMA_HORIZON}
            GROUP BY user_id"""
    sql["edge_text_degenerate"] = f"""
            WITH d AS (
              SELECT CAST(doc_id % 5 AS BIGINT) AS bucket,
                     {_edge_text_sql()} AS text
              FROM documents
            )
            SELECT bucket,
                   count(*) AS n_docs,
                   CAST(SUM({T.token_count_sql('text')}) AS BIGINT)
                     AS sum_tokens,
                   CAST(SUM({T.bpe_ish_token_count_sql('text')}) AS BIGINT)
                     AS sum_bpe,
                   CAST(count(DISTINCT {H.fingerprint_sql('text')})
                     AS BIGINT) AS n_fingerprints,
                   CAST(MIN({T.token_count_sql('text')}) AS BIGINT)
                     AS min_tokens,
                   CAST(MAX({T.token_count_sql('text')}) AS BIGINT)
                     AS max_tokens
            FROM d GROUP BY bucket"""
    sql["edge_dedup_identical"] = f"""
            SELECT CASE WHEN doc_id % 2 = 0 THEN '{EDGE_CONST_TEXT}'
                        ELSE '' END AS text,
                   min(doc_id) AS keeper_id,
                   count(*) AS n_copies
            FROM documents GROUP BY 1"""
    sql["edge_winnow_short"] = f"""
            SELECT doc_id,
                   unnest({T.winnow_fingerprints_sql(_edge_text_sql())})
                     AS fp
            FROM documents WHERE doc_id % 5 <> 4"""
    sql["edge_json_malformed"] = """
            WITH d AS (
              SELECT CAST(event_id % 6 AS BIGINT) AS bucket,
                     CASE event_id % 6
                       WHEN 0 THEN ''
                       WHEN 1 THEN '{'
                       WHEN 2 THEN substring(props, 1, len(props) - 1)
                       WHEN 3 THEN 'null'
                       WHEN 4 THEN '   '
                       ELSE props END AS t
              FROM events
            ), x AS (
              SELECT bucket,
                     CASE WHEN json_valid(t)
                          THEN json_extract_string(t, '$.k') END AS v
              FROM d
            )
            SELECT bucket, count(*) AS n_rows, count(v) AS n_parsed,
                   CAST(count(DISTINCT v) AS BIGINT) AS n_distinct
            FROM x GROUP BY bucket"""
    _zcos = V.cosine_similarity_sql("c.embedding", "q.embedding")
    sql["edge_zero_vectors"] = f"""
            WITH derived AS (
              SELECT vec_id,
                     CASE WHEN vec_id % 3 = 0
                          THEN list_transform(embedding,
                                              x -> CAST(0.0 AS FLOAT))
                          ELSE embedding END AS embedding
              FROM embeddings
            ), q AS (
              SELECT vec_id, embedding FROM derived
              WHERE vec_id < {ANN_NQUERY}
            ), scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     round({_zcos}, 6) AS cos_sim
              FROM derived c CROSS JOIN q
              WHERE q.vec_id <> c.vec_id
            )
            SELECT query_id, neighbor_id, cos_sim, rank FROM (
              SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                         ORDER BY cos_sim DESC, neighbor_id ASC)
                       AS INT) AS rank
              FROM scored
            ) WHERE rank <= {ANN_K}"""
    sql["edge_media_1byte"] = """
            SELECT doc_id,
                   CAST(octet_length(encode(substr(text, 1, 1))) AS INT)
                     AS byte_len,
                   md5(substr(text, 1, 1)) AS content_md5,
                   CAST(concat('0x', substr(md5(substr(text, 1, 1)), 1, 4))
                        AS INT) AS f0_u16,
                   CAST(concat('0x', substr(md5(substr(text, 1, 1)), 5, 4))
                        AS INT) AS f1_u16
            FROM documents"""
    sql["edge_convert_hot_user"] = """
            WITH ev AS (
              SELECT CASE WHEN event_type = 'purchase'
                          THEN CAST(7 AS BIGINT) ELSE user_id END
                       AS user_id,
                     event_type, ts
              FROM events
            ), s AS (
              SELECT user_id, min(epoch_us(ts)) AS signup_us
              FROM ev WHERE event_type = 'signup'
              GROUP BY user_id
            ), c AS (
              SELECT e.user_id, min(epoch_us(e.ts)) AS conv_us
              FROM ev e JOIN s USING (user_id)
              WHERE e.event_type = 'purchase'
                AND epoch_us(e.ts) >= s.signup_us
              GROUP BY e.user_id
            ), gaps AS (
              SELECT CAST(signup_us // (86400000000 * 7) AS INT)
                       AS cohort_week,
                     conv_us - signup_us AS gap_us
              FROM s JOIN c USING (user_id)
            ), ranked AS (
              SELECT cohort_week, gap_us,
                     row_number() OVER (
                       PARTITION BY cohort_week ORDER BY gap_us
                     ) AS rk,
                     count(*) OVER (
                       PARTITION BY cohort_week) AS n
              FROM gaps
            )
            SELECT cohort_week, CAST(max(n) AS BIGINT) AS n_converted,
                   CAST(SUM(CAST(gap_us AS HUGEINT)) // count(*)
                        AS BIGINT) AS mean_gap_us,
                   max(CASE WHEN rk = (n + 1) // 2
                            THEN gap_us END) AS p50_gap_us,
                   max(CASE WHEN rk = (9 * n + 9) // 10
                            THEN gap_us END) AS p90_gap_us
            FROM ranked GROUP BY cohort_week"""
    sql["edge_journey_hot_user"] = f"""
            WITH ev AS (
              SELECT CASE WHEN event_type = 'view'
                          THEN CAST(7 AS BIGINT) ELSE user_id END
                       AS user_id,
                     event_type, ts, event_id
              FROM events
            ), j AS ({_journey_sql("ev")}),
            agg AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                     {", ".join(
                         f"CAST(SUM(CASE WHEN regexp_matches(journey, "
                         f"'{p}') THEN 1 ELSE 0 END) AS BIGINT)"
                         f" AS {name}"
                         for name, p in JOURNEY_PATTERNS
                     )}
              FROM j)
            SELECT pattern, n_users,
                   CAST((n_users * 1000000) // n AS BIGINT) AS share_ppm
            FROM (
              {" UNION ALL ".join(
                  f"SELECT '{name}' AS pattern, {name} AS n_users, n"
                  f" FROM agg"
                  for name, _ in JOURNEY_PATTERNS
              )}
            )"""
    return sql
