"""Round-10 regression tests — the r9 advisory closures:

1. Spool batch/stream reads plan against a frozen file snapshot:
   files pushed (even name-sorted-first) or appended between
   partition planning and executor read must not shift, duplicate,
   or drop rows of the planned batch.
2. Rate-limit plumbing: 0 is rejected everywhere (reference
   pos_integer), and get_rate_limiting and the reader's admission read
   the control file through one parser (corrupt/invalid file →
   constructor rate).
3. publish_bucketed_pair garbage-collects the superseded manifest
   version after a successful publish (catalog + data paths), and
   never before the atomic rename.
4. The DECIMAL(38,0) 1e38 overflow branch (agg_hhi pattern) on the
   three-factor ppm products: exact decimal below 1e32, identical
   IEEE-double expression above it — verified at DECIMAL-breaking
   magnitudes against a Python bigint/float reference.
"""

import json
import math
import os

import pytest
from pyspark.sql import functions as F

from broadway_spark.operators import layout as LY
from broadway_spark.sources import SpoolSource
from broadway_spark.sources.spool import (
    _rate_limit,
    _SpoolBatchReader,
    _SpoolStreamReader,
)

from .conftest import EVENTS_DDL, make_events


def _read_all(reader, parts):
    from .conftest import iter_spool_rows

    rows = []
    for p in parts:
        rows.extend(iter_spool_rows(reader, p))
    return rows


def test_spool_batch_read_snapshot_survives_concurrent_push(spark, tmp_path):
    """A file pushed AFTER partition planning — with a name that sorts
    BEFORE every existing file — and an append to an existing file
    must both be invisible to the planned read: exactly the planned
    rows, once each."""
    spool = str(tmp_path / "spool")
    src = SpoolSource(
        name="s", path=spool, schema_ddl=EVENTS_DDL, ack_data_column="event_id"
    )
    src.push_messages(make_events(40, start=0), "100_a.jsonl")
    src.push_messages(make_events(40, start=40), "200_b.jsonl")
    schema = spark.createDataFrame([], EVENTS_DDL).schema
    reader = _SpoolBatchReader(schema, {"path": spool, "num_partitions": "3"})
    parts = reader.partitions()

    # the race: a new file that sorts FIRST, plus an append to 100_a
    src.push_messages(make_events(10, start=900), "000_late.jsonl")
    with open(os.path.join(spool, "100_a.jsonl"), "a") as fh:
        for rec in make_events(5, start=800):
            fh.write(json.dumps(rec) + "\n")

    got = sorted(r[0] for r in _read_all(reader, parts))
    assert got == list(range(80)), (
        "planned batch must be exactly the snapshot rows — "
        f"got {len(got)} rows, head={got[:5]} tail={got[-5:]}"
    )


def test_spool_stream_partitions_snapshot_pins_row_indices(spark, tmp_path):
    """Streaming path: partitions(start, end) freezes the file list;
    executors reading after a sorts-first push still see the original
    row indexing (no duplicated / dropped rows across partitions)."""
    spool = str(tmp_path / "spool")
    src = SpoolSource(
        name="s", path=spool, schema_ddl=EVENTS_DDL, ack_data_column="event_id"
    )
    src.push_messages(make_events(60), "500_x.jsonl")
    schema = spark.createDataFrame([], EVENTS_DDL).schema
    reader = _SpoolStreamReader(schema, {"path": spool, "num_partitions": "4"})
    end = reader.latestOffset()
    assert end == {"row": 60}
    parts = reader.partitions({"row": 0}, end)
    src.push_messages(make_events(20, start=700), "000_first.jsonl")
    got = sorted(r[0] for r in _read_all(reader, parts))
    assert got == list(range(60))


def test_rate_limit_zero_rejected_and_fallbacks_aligned(spark, tmp_path):
    """0 is not 'unlimited': update_rate_limiting(0) raises, a reader
    constructed with allowed_per_trigger=0 raises, and BOTH readers of
    the control file fall back to the constructor rate on a corrupt or
    non-positive on-disk value (previously get_rate_limiting crashed on
    corrupt JSON while the reader silently fell back). Both read it
    through ``_rate_limit``, the reader with its own constructor
    rate."""
    spool = str(tmp_path / "spool")
    src = SpoolSource(
        name="s",
        path=spool,
        schema_ddl=EVENTS_DDL,
        ack_data_column="event_id",
        allowed_per_trigger=10,
    )
    with pytest.raises(ValueError, match="positive"):
        src.update_rate_limiting(0)
    with pytest.raises(ValueError, match="positive"):
        src.update_rate_limiting(-5)

    schema = spark.createDataFrame([], EVENTS_DDL).schema
    with pytest.raises(ValueError, match="positive"):
        _SpoolStreamReader(schema, {"path": spool, "allowed_per_trigger": "0"})

    reader = _SpoolStreamReader(
        schema, {"path": spool, "allowed_per_trigger": "10"}
    )
    os.makedirs(spool, exist_ok=True)
    ctrl = os.path.join(spool, "_rate_control.json")

    for bad in ['{"allowed_per_trigger": 0}', "{torn", '{"allowed_per_trigger": "x"}']:
        with open(ctrl, "w") as fh:
            fh.write(bad)
        assert _rate_limit(spool, reader.allowed) == 10, bad
        assert src.get_rate_limiting() == 10, bad

    # a valid update still round-trips; explicit null means unlimited
    src.update_rate_limiting(25)
    assert src.get_rate_limiting() == 25
    assert _rate_limit(spool, reader.allowed) == 25
    src.update_rate_limiting(None)
    assert src.get_rate_limiting() is None
    assert _rate_limit(spool, reader.allowed) is None


def test_publish_bucketed_pair_gcs_previous_version(spark, tmp_path):
    """v2's successful publish drops v1's catalog tables and removes
    v1's data paths — AFTER the manifest rename (a v2 crash before the
    rename must leave v1 fully readable, proven by the fail_between
    publish keeping v1 intact)."""
    SF = "/root/testdata/sf0.001"
    li = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .select("l_orderkey", "l_extendedprice")
    )
    od = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_orderpriority"
    )
    manifest = str(tmp_path / "manifest.json")
    specs = [
        (li, "t10_gc_li", str(tmp_path / "li"), ["l_orderkey"], 4),
        (od, "t10_gc_od", str(tmp_path / "od"), ["o_orderkey"], 4),
    ]
    try:
        LY.publish_bucketed_pair(specs, manifest, "v1")
        assert spark.catalog.tableExists("t10_gc_li_v1")
        assert os.path.isdir(str(tmp_path / "li") + "_v1")

        # a crashed v2 publish must NOT GC v1 (rename never happened)
        with pytest.raises(LY.InjectedLayoutCrash):
            LY.publish_bucketed_pair(specs, manifest, "v2", fail_between=True)
        assert spark.catalog.tableExists("t10_gc_li_v1")
        a, b = LY.read_bucketed_pair(spark, manifest)
        assert a.count() > 0  # v1 still the readable version

        # the successful v2 publish GCs v1: catalog entries AND paths
        LY.publish_bucketed_pair(specs, manifest, "v2")
        assert not spark.catalog.tableExists("t10_gc_li_v1")
        assert not spark.catalog.tableExists("t10_gc_od_v1")
        assert not os.path.isdir(str(tmp_path / "li") + "_v1")
        assert spark.catalog.tableExists("t10_gc_li_v2")
        with open(manifest) as fh:
            m = json.load(fh)
        assert m["version"] == "v2" and len(m["tables"]) == 2
    finally:
        LY.drop_layout_tables(
            spark,
            [f"{t}_{v}" for t in ("t10_gc_li", "t10_gc_od") for v in ("v1", "v2")],
            [],
        )


# --- the 1e38 branch, at DECIMAL-breaking magnitudes ---------------------

_LIFT_EXPR = (
    "CAST(CASE WHEN CAST(co AS DECIMAL(38,0)) * nb"
    " < CAST(100000000000000000000000000000000 AS DECIMAL(38,0))"
    " THEN CAST(co AS DECIMAL(38,0)) * nb * 1000000"
    "      DIV (CAST(deg_a AS DECIMAL(38,0)) * deg_c)"
    " ELSE CAST(floor(CAST(co AS DOUBLE) / CAST(deg_a AS DOUBLE)"
    "      / CAST(deg_c AS DOUBLE) * CAST(nb AS DOUBLE) * 1000000.0)"
    "      AS DECIMAL(38,0))"
    " END AS BIGINT)"
)


def _lift_py(co: int, nb: int, deg_a: int, deg_c: int) -> int:
    if co * nb < 10**32:
        return (co * nb * 1_000_000) // (deg_a * deg_c)
    return math.floor(co / deg_a / deg_c * nb * 1_000_000.0)


@pytest.mark.parametrize(
    "co,nb,deg_a,deg_c",
    [
        # exact branch, just under the 1e32 guard (co·nb ≈ 9.9e31):
        # co·nb·1e6 ≈ 9.9e37 — past HUGEINT-naive but inside DEC(38,0)
        (9_900_000_000_000_000, 10_000_000_000_000_000,
         9_900_000_000_000_000, 9_999_999_999_999_999),
        # double branch, just over the guard
        (10_000_000_000_000_001, 10_000_000_000_000_000,
         10_100_000_000_000_000, 10_200_000_000_000_000),
        # deep double branch: co·nb ≈ 8.5e37 (the BIGINT² extreme)
        (9_223_372_036_854_775_000, 9_223_372_036_854_775_000,
         9_223_372_036_854_775_807, 9_223_372_036_854_775_807),
    ],
)
def test_lift_ppm_branch_at_decimal_breaking_magnitudes(
    spark, co, nb, deg_a, deg_c
):
    row = (
        spark.createDataFrame(
            [(co, nb, deg_a, deg_c)], "co long, nb long, deg_a long, deg_c long"
        )
        .selectExpr(f"{_LIFT_EXPR} AS v")
        .collect()[0]
    )
    assert row["v"] == _lift_py(co, nb, deg_a, deg_c)
    assert row["v"] is not None  # the r9 silent-NULL failure mode


def test_lift_ppm_duckdb_twin_matches_at_breaking_magnitudes(spark):
    """The DuckDB form of the same branch returns the same value —
    the cross-engine contract the oracle gate enforces, checked here
    at magnitudes the gate's data never reaches."""
    import duckdb

    duck_expr = (
        "CAST(CASE WHEN CAST(co AS HUGEINT) * nb"
        " < CAST('100000000000000000000000000000000' AS HUGEINT)"
        " THEN CAST(co AS HUGEINT) * nb * 1000000"
        "      // (CAST(deg_a AS HUGEINT) * deg_c)"
        " ELSE CAST(floor(CAST(co AS DOUBLE) / CAST(deg_a AS DOUBLE)"
        "      / CAST(deg_c AS DOUBLE) * CAST(nb AS DOUBLE) * 1000000.0)"
        "      AS HUGEINT)"
        " END AS BIGINT)"
    )
    cases = [
        (9_900_000_000_000_000, 10_000_000_000_000_000,
         9_900_000_000_000_000, 9_999_999_999_999_999),
        (10_000_000_000_000_001, 10_000_000_000_000_000,
         10_100_000_000_000_000, 10_200_000_000_000_000),
    ]
    for co, nb, deg_a, deg_c in cases:
        (got,) = duckdb.sql(
            f"SELECT {duck_expr} FROM (SELECT CAST({co} AS BIGINT) co,"
            f" CAST({nb} AS BIGINT) nb, CAST({deg_a} AS BIGINT) deg_a,"
            f" CAST({deg_c} AS BIGINT) deg_c)"
        ).fetchone()
        spark_v = (
            spark.createDataFrame(
                [(co, nb, deg_a, deg_c)],
                "co long, nb long, deg_a long, deg_c long",
            )
            .selectExpr(f"{_LIFT_EXPR} AS v")
            .collect()[0]["v"]
        )
        assert got == spark_v == _lift_py(co, nb, deg_a, deg_c)


# --- stream-stream LEFT ANTI emulation (s32/s33 family) ------------------


def _write_event_file(spark, path, rows):
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["user_id", "kind", "event_id", "ts"])
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(
        path + "_stage"
    )
    import glob
    import shutil

    part = glob.glob(os.path.join(path + "_stage", "part-*.parquet"))[0]
    shutil.move(part, path)
    shutil.rmtree(path + "_stage")


def test_stream_anti_join_boundaries_and_cross_batch(spark, tmp_path):
    """The core anti-join wrinkles, forced across micro-batches:

    - a purchase must NOT decide before the watermark passes it — its
      matching click may arrive in a LATER file (premature emission
      would be the false positive the operator exists to prevent);
    - the lookback window is inclusive on both ends: a click exactly
      at t−1h suppresses, a click after t never matches;
    - purchases the final watermark never passes stay unemitted."""
    import datetime as dt
    import uuid

    from pyspark.sql import functions as F

    from broadway_spark.streaming.stateful_dedup import use_rocksdb_state
    from broadway_spark.streaming.stream_anti_join import (
        streaming_left_anti_join,
    )

    use_rocksdb_state(spark)
    T0 = dt.datetime(2024, 1, 1, 10, 0, 0)

    def at(minutes):
        return T0 + dt.timedelta(minutes=minutes)

    watch = str(tmp_path / "watch")
    os.makedirs(watch)
    # file 1: purchase P(u1)@0m; driver row pushes wm to -30m (< 0m)
    _write_event_file(
        spark,
        os.path.join(watch, "ev000.parquet"),
        [
            (1, "purchase", 100, at(0)),
            (9, "other", 900, at(30)),
        ],
    )
    # file 2: the LATE-BUT-VALID click for P (u1)@-10m (≥ wm -30m),
    # a control purchase Q(u2)@5m with no click, boundary purchases:
    # u3 click exactly at t-60m (suppresses), u4 click AFTER t (no
    # match -> emits); driver row pushes wm to +120m so all decide
    _write_event_file(
        spark,
        os.path.join(watch, "ev001.parquet"),
        [
            (1, "click", 101, at(-10)),
            (2, "purchase", 200, at(5)),
            (3, "purchase", 300, at(0)),
            (3, "click", 301, at(-60)),
            (4, "purchase", 400, at(0)),
            (4, "click", 401, at(1)),
            (5, "purchase", 500, at(170)),  # above final wm: undecided
            (9, "other", 901, at(180)),
        ],
    )
    t0 = dt.datetime.now().timestamp() - 7200
    for i, f in enumerate(sorted(os.listdir(watch))):
        os.utime(os.path.join(watch, f), (t0 + 60 * i, t0 + 60 * i))
    schema = spark.read.parquet(watch).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(watch)
    )
    anti = streaming_left_anti_join(
        stream,
        key_col="user_id",
        is_left=F.col("kind") == "purchase",
        left_id="event_id",
        ts_col="ts",
        lookback_ms=3_600_000,
        watermark_delay="30 minutes",
    )
    qn = f"anti_{uuid.uuid4().hex[:6]}"
    q = (
        anti.writeStream.format("memory")
        .queryName(qn)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(240)
    got = sorted(r["left_id"] for r in spark.table(qn).collect())
    # 100 suppressed (click arrived in a later batch), 200 emitted,
    # 300 suppressed (click exactly at t-1h, inclusive), 400 emitted
    # (click after t), 500 undecided (final wm = 180m-30m = 150m < 170m)
    assert got == [200, 400], got


# ---------------------------------------------------------------------------
# Round-10 breadth additions: Benford audit, curriculum manifest,
# vocab coverage (registry 269-271)
# ---------------------------------------------------------------------------


def test_benford_ppm_literals_match_formula():
    """The BENFORD_PPM table is LITERAL (so Spark and DuckDB can't
    diverge on a libm ulp) — pin each literal to round(log10(1+1/d)*1e6)
    and to a proper probability distribution (sums to ~1e6)."""
    import __spark_entry__ as e

    total = 0
    for d, ppm in e.BENFORD_PPM:
        expect = round(math.log10(1.0 + 1.0 / d) * 1_000_000)
        assert ppm == expect, (d, ppm, expect)
        total += ppm
    assert abs(total - 1_000_000) <= 1  # rounding residue only


def test_benford_first_digit_is_exact_integer_math(spark):
    """First digits come from integer cents, never float log10: a value
    like 999.99 → digit 9 and 1000.00 → digit 1 even where
    floor(log10(x)) would be off by one ulp at the boundary."""
    df = spark.createDataFrame(
        [(999.99,), (1000.00,), (0.01,), (1.00,), (95000.49,)],
        "o_totalprice double",
    )
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast(
        "bigint"
    )
    got = [
        r[0]
        for r in df.select(
            F.substring(cents.cast("string"), 1, 1).cast("int")
        ).collect()
    ]
    assert got == [9, 1, 1, 1, 9], got


def test_curriculum_checksum_pins_exact_order(spark):
    """The curriculum manifest's order checksum Σ(position·hash mod
    1000003) must change when any two docs swap positions — a
    reordered shuffle cannot hash-match the oracle."""
    rows = [(i, (i * 2654435761) % (1 << 32)) for i in range(1, 8)]
    df = spark.createDataFrame(rows, "position long, __h long")
    term = F.expr(
        "CAST((CAST(position AS DECIMAL(38,0)) * __h) % 1000003 AS BIGINT)"
    )
    base = df.agg(F.sum(term).cast("long")).collect()[0][0]
    # swap positions of rows 2 and 5: same multiset of hashes and of
    # positions, different pairing
    swapped = [
        (5 if i == 2 else 2 if i == 5 else i, h) for i, h in rows
    ]
    df2 = spark.createDataFrame(swapped, "position long, __h long")
    other = df2.agg(F.sum(term).cast("long")).collect()[0][0]
    assert base != other


def test_vocab_coverage_curve_is_monotone(spark):
    """covered_tokens/ppm are non-decreasing in k and ppm ≤ 1e6; the
    ranking is strict (count DESC, token ASC) so coverage at vocab-size
    k equals the total."""
    import __spark_entry__ as e

    out = {
        r["top_k"]: r
        for r in e.q_text_vocab_coverage(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    ks = sorted(out)
    assert ks == sorted(e.VOCAB_COVERAGE_KS)
    prev_tok, prev_ppm = -1, -1
    for k in ks:
        r = out[k]
        assert r["covered_tokens"] >= prev_tok
        assert prev_ppm <= r["covered_ppm"] <= 1_000_000
        prev_tok, prev_ppm = r["covered_tokens"], r["covered_ppm"]
        if k >= r["vocab_size"]:
            assert r["covered_ppm"] >= 999_999  # integer-DIV floor


# ---------------------------------------------------------------------------
# Round-10 wave 2: seasonality, burstiness, winsorized mean
# (registry 272-274)
# ---------------------------------------------------------------------------


def test_seasonal_day_index_is_portable_epoch_math(spark):
    """day_idx = days-since-1970 mod 7 must match Python's weekday
    calendar with Thursday=0 — and involves no engine calendar
    function (dayofweek week-start conventions differ)."""
    import datetime

    probes = [
        datetime.datetime(1970, 1, 1),   # Thursday -> 0
        datetime.datetime(2024, 1, 1),   # Monday   -> 4
        datetime.datetime(2024, 1, 7),   # Sunday   -> 3
        datetime.datetime(2026, 8, 16),  # Sunday   -> 3
    ]
    df = spark.createDataFrame([(p,) for p in probes], "ts timestamp")
    got = [
        r[0]
        for r in df.select(
            F.expr(
                "CAST(pmod(unix_micros(ts) DIV 86400000000, 7) AS INT)"
            )
        ).collect()
    ]
    want = [(p.weekday() - 3) % 7 for p in probes]  # Thursday==3 -> 0
    assert got == want, (got, want)


def test_burstiness_cv_zero_for_regular_and_positive_for_bursty(spark):
    """Constant inter-event gaps → CV exactly 0; a bursty pattern
    (tight cluster + one long silence) → CV well above 1's
    neighborhood of regular traffic."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    regular = [
        (1, i, base + datetime.timedelta(seconds=60 * i))
        for i in range(8)
    ]
    bursty_offsets = [0, 1, 2, 3, 4, 5, 6, 3600]
    bursty = [
        (2, 100 + i, base + datetime.timedelta(seconds=s))
        for i, s in enumerate(bursty_offsets)
    ]
    df = spark.createDataFrame(
        regular + bursty, "user_id long, event_id long, ts timestamp"
    )
    import __spark_entry__ as e
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = df.select(
        "user_id",
        (
            F.expr("unix_micros(ts)")
            - F.lag(F.expr("unix_micros(ts)")).over(w)
        ).alias("gap_us"),
    ).where(F.col("gap_us").isNotNull())
    agg = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum(F.col("gap_us").cast("decimal(38,0)"))
        .cast("double")
        .alias("s"),
        F.sum(
            F.col("gap_us").cast("decimal(38,0)")
            * F.col("gap_us").cast("decimal(38,0)")
        )
        .cast("double")
        .alias("q"),
    )
    n = F.col("n_gaps").cast("double")
    mean = F.col("s") / n
    var = F.greatest(
        (F.col("q") - F.col("s") * F.col("s") / n) / n, F.lit(0.0)
    )
    out = {
        r["user_id"]: r["cv"]
        for r in agg.select(
            "user_id", F.round(F.sqrt(var) / mean, 6).alias("cv")
        ).collect()
    }
    assert out[1] == 0.0
    assert out[2] > 1.5, out[2]


def test_winsorized_mean_bounded_and_outlier_resistant(spark):
    """The winsorized mean must sit within [p05, p95] and move far
    less than the raw mean when a huge outlier is injected."""
    rows = [("P", 100.0 + i) for i in range(99)] + [("P", 1_000_000.0)]
    df = spark.createDataFrame(rows, "o_orderpriority string, o_totalprice double")
    b = df.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, array(0.05D, 0.95D))").alias("b"),
        F.count(F.lit(1)).alias("n"),
        F.avg("o_totalprice").alias("raw"),
    ).select(
        "o_orderpriority", "n", "raw",
        F.element_at("b", 1).alias("lo"),
        F.element_at("b", 2).alias("hi"),
    )
    j = df.join(F.broadcast(b), "o_orderpriority")
    clamped = F.least(F.greatest(F.col("o_totalprice"), F.col("lo")), F.col("hi"))
    r = j.groupBy("o_orderpriority").agg(
        F.avg(clamped).alias("wins"),
        F.max("raw").alias("raw"),
        F.max("lo").alias("lo"),
        F.max("hi").alias("hi"),
    ).collect()[0]
    assert r["lo"] <= r["wins"] <= r["hi"]
    assert r["raw"] > 10_000  # outlier dominates the raw mean
    assert r["wins"] < 300  # but not the winsorized one


def test_cross_source_matrix_pair_arithmetic():
    """n_a·n_b / C(n,2) count arithmetic must equal the brute-force
    pair enumeration on a small fixture."""
    import itertools

    docs = [  # (fp set per doc, source)
        ({"f1", "f2"}, "a"),
        ({"f1"}, "a"),
        ({"f1", "f3"}, "b"),
        ({"f2"}, "b"),
        ({"f3"}, "c"),
    ]
    brute = {}
    for (f1, s1), (f2, s2) in itertools.combinations(docs, 2):
        shared = len(f1 & f2)
        if not shared:
            continue
        key = tuple(sorted((s1, s2)))
        brute[key] = brute.get(key, 0) + shared
    from collections import Counter

    cnt = Counter()
    for fps, s in docs:
        for fp in fps:
            cnt[(fp, s)] += 1
    calc = {}
    fp_set = {fp for fps, _ in docs for fp in fps}
    for fp in fp_set:
        srcs = sorted(s for (f, s) in cnt if f == fp)
        for s1, s2 in itertools.combinations_with_replacement(
            sorted(set(srcs)), 2
        ):
            n1, n2 = cnt[(fp, s1)], cnt[(fp, s2)]
            w = n1 * (n1 - 1) // 2 if s1 == s2 else n1 * n2
            if w:
                calc[(s1, s2)] = calc.get((s1, s2), 0) + w
    assert calc == brute, (calc, brute)


def test_discrete_percentile_rank_formula(spark):
    """⌈p·n⌉ in integer math — (n+1) DIV 2 and (9n+9) DIV 10 — must
    match math.ceil for every n up to 1000."""
    import math as _m

    for n in range(1, 1001):
        assert (n + 1) // 2 == _m.ceil(0.5 * n), n
        assert (9 * n + 9) // 10 == _m.ceil(0.9 * n), n


def test_pack_budget_power_of_two_floor_is_exact():
    """The 16384-byte budget is a power of two ON PURPOSE: dividing an
    exact integer prefix sum by 2^14 is exact in binary, so the floor
    is engine-portable. Pin the invariant."""
    import __spark_entry__ as e

    assert e.MM_PACK_BUDGET & (e.MM_PACK_BUDGET - 1) == 0
    # boundary probes: cum-w exactly at/around multiples of the budget
    for cum in (0, 16383, 16384, 16385, 32768, 2**40, 2**40 + 16384):
        assert int(cum / float(e.MM_PACK_BUDGET)) == cum // e.MM_PACK_BUDGET


def test_epoch_shuffle_positions_are_disjoint_permutations(spark):
    """Each epoch's positions span 1..n exactly, and the three epoch
    orders are pairwise different (the salt works)."""
    import __spark_entry__ as e

    rows = e.q_pack_epoch_shuffle(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == e.EPOCH_SHUFFLE_N
    checksums = set()
    for r in rows:
        assert r["first_pos"] == 1
        assert r["last_pos"] == r["n_docs"]
        checksums.add(r["order_checksum"])
        assert r["fixed_vs_prev"] <= max(2, r["n_docs"] // 50)
    assert len(checksums) == e.EPOCH_SHUFFLE_N  # orders differ
