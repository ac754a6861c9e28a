"""Streaming-native operator tests: watermark dedup, windowed
aggregation with late data, runtime rate-limit update (F3)."""

import time

import pytest

from pyspark.sql import functions as F

from broadway_spark.config import BatcherConfig, SinkConfig, TopologyConfig
from broadway_spark.operators.dedup import dedup_stream
from broadway_spark.plans import Pipeline
from broadway_spark.sources import SpoolSource

from .conftest import EVENTS_DDL, make_events


def test_streaming_dedup_within_watermark(spark, tmp_dirs):
    """Duplicate event_ids delivered across micro-batches are emitted
    once (dropDuplicatesWithinWatermark over the envelope stream)."""
    src = SpoolSource(
        name="spool",
        path=tmp_dirs["spool"],
        schema_ddl=EVENTS_DDL + ", ts timestamp",
        ack_data_column="event_id",
    )
    base = make_events(50)
    for i, e in enumerate(base):
        e["ts"] = f"2024-01-01 00:{i % 60:02d}:00"
    dupes = [dict(e) for e in base[:20]]  # redelivered subset
    src.push_messages(base, "000.jsonl")
    src.push_messages(dupes, "001.jsonl")

    stream = src.read_stream(spark)
    deduped = dedup_stream(
        stream, ["event_id"], event_time_col="ts", watermark_delay="1 hour"
    )
    q = (
        deduped.writeStream.format("parquet")
        .option("path", tmp_dirs["sink"])
        .option("checkpointLocation", tmp_dirs["ckpt"])
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    out = spark.read.parquet(tmp_dirs["sink"])
    assert out.count() == 50
    assert out.select("event_id").distinct().count() == 50


def test_windowed_agg_with_watermark(spark, tmp_dirs):
    """Event-time tumbling window + watermark over the stream: counts
    match the batch computation on the same data."""
    src = SpoolSource(
        name="spool",
        path=tmp_dirs["spool"],
        schema_ddl=EVENTS_DDL + ", ts timestamp",
        ack_data_column="event_id",
    )
    events = make_events(120)
    for i, e in enumerate(events):
        e["ts"] = f"2024-01-01 {i // 30:02d}:{(i * 2) % 60:02d}:00"
    src.push_messages(events, "000.jsonl")

    stream = src.read_stream(spark)
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH").alias("hour"),
            "event_type",
            "n",
        )
    )

    def drain():
        q = (
            agg.writeStream.format("parquet")
            .outputMode("append")
            .option("path", tmp_dirs["sink"])
            .option("checkpointLocation", tmp_dirs["ckpt"])
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    # Append mode emits a window only after a *subsequent* batch sees
    # the watermark past its end: sentinel1 closes the data windows on
    # drain 2... except windows straddling the pre-sentinel watermark,
    # which need one more hop — sentinel2 on drain 3. The last
    # sentinel's own window stays open (never asserted).
    sentinel1 = make_events(1, start=10_000)[0]
    sentinel1["ts"] = "2024-01-02 00:00:00"
    src.push_messages([sentinel1], "001_sentinel.jsonl")
    drain()
    sentinel2 = make_events(1, start=10_001)[0]
    sentinel2["ts"] = "2024-01-03 00:00:00"
    src.push_messages([sentinel2], "002_sentinel.jsonl")
    drain()

    got = {
        (r["hour"], r["event_type"]): r["n"]
        for r in spark.read.parquet(tmp_dirs["sink"]).collect()
        if r["hour"] < "2024-01-02"  # sentinel windows emit on later hops
    }
    batch = spark.createDataFrame(events)
    want = {
        (r["hour"], r["event_type"]): r["n"]
        for r in batch.withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(
            F.date_format(
                F.window("ts", "1 hour").getField("start"), "yyyy-MM-dd HH"
            ).alias("hour"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # after the sentinel advanced the watermark, every data window is
    # closed and emitted exactly once — streamed result == batch result
    assert got == want


def test_hopping_window_stream_matches_batch_and_drops_late(spark, tmp_dirs):
    """Hopping (1h window / 30m slide) event-time aggregation on a
    watermarked stream: (a) emitted windows equal the batch computation
    on the punctual data, and (b) an event arriving AFTER the watermark
    passed its windows is dropped — both halves of the late-data
    contract (w7_hopping's streaming form)."""
    src = SpoolSource(
        name="spool",
        path=tmp_dirs["spool"],
        schema_ddl=EVENTS_DDL + ", ts timestamp",
        ack_data_column="event_id",
    )
    events = make_events(120)
    for i, e in enumerate(events):
        e["ts"] = f"2024-01-01 {i // 30:02d}:{(i * 2) % 60:02d}:00"
    src.push_messages(events, "000.jsonl")

    stream = src.read_stream(spark)
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm").alias("win_start"),
            "n",
        )
    )

    def drain():
        q = (
            agg.writeStream.format("parquet")
            .outputMode("append")
            .option("path", tmp_dirs["sink"])
            .option("checkpointLocation", tmp_dirs["ckpt"])
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    # Advance the watermark well past the data (and persist it for the
    # next run — the bump computed at a batch's END is only effective
    # from the following batch).
    s1 = make_events(1, start=30_000)[0]
    s1["ts"] = "2024-01-02 00:00:00"
    src.push_messages([s1], "001_sentinel.jsonl")
    drain()
    # A late event a day behind the watermark: every window it belongs
    # to is closed, so it must be DROPPED — not resurrect any window.
    late = make_events(1, start=20_000)[0]
    late["ts"] = "2023-12-31 18:00:00"
    src.push_messages([late], "002_late.jsonl")
    drain()
    # Final sentinel so every remaining data window emits.
    s2 = make_events(1, start=30_001)[0]
    s2["ts"] = "2024-01-03 00:00:00"
    src.push_messages([s2], "003_sentinel.jsonl")
    drain()

    all_rows = spark.read.parquet(tmp_dirs["sink"]).collect()
    # the late event's two windows ([17:30,18:30) and [18:00,19:00))
    # must never emit; the [23:30,00:30) window is legitimate — hop
    # windows extend backward from the punctual midnight events
    assert not any(
        r["win_start"] in ("2023-12-31 17:30", "2023-12-31 18:00")
        for r in all_rows
    ), "late event leaked"
    # data occupies 2024-01-01 00:00-04:00; sentinel windows start later
    got = {
        (r["win_start"]): r["n"]
        for r in all_rows
        if r["win_start"] < "2024-01-01 05:00"
    }
    batch = spark.createDataFrame(events)
    want = {
        r["win_start"]: r["n"]
        for r in batch.withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm").alias("win_start"), "n"
        )
        .collect()
    }
    assert got == want


def test_streaming_near_dedup_lsh(spark, tmp_dirs):
    """Streaming MinHash-LSH near-dedup: a later doc whose text
    near-duplicates an earlier one (here: identical — every band
    collides) is dropped; a distinct doc passes with all bands fresh.
    Cross-batch arrivals make the winner deterministic."""
    from broadway_spark.operators.dedup import streaming_near_dedup

    ddl = "doc_id long, text string, ts timestamp"
    src = SpoolSource(
        name="spool",
        path=tmp_dirs["spool"],
        schema_ddl=ddl,
        ack_data_column="doc_id",
    )
    t_a = "the quick brown fox jumps over the lazy dog tonight"
    t_b = "completely different words about spark streaming engines here"
    src.push_messages(
        [{"doc_id": 1, "text": t_a, "ts": "2024-01-01 00:10:00"}],
        "000.jsonl",
    )

    stream = src.read_stream(spark)
    kept = streaming_near_dedup(
        stream,
        "doc_id",
        "text",
        "ts",
        watermark_delay="30 minutes",
        window_duration="1 hour",
    )

    def drain():
        q = (
            kept.writeStream.format("parquet")
            .outputMode("append")
            .option("path", tmp_dirs["sink"])
            .option("checkpointLocation", tmp_dirs["ckpt"])
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    # batch 2: a near-dup of doc 1 (drop) and a fresh doc (keep)
    src.push_messages(
        [
            {"doc_id": 2, "text": t_a, "ts": "2024-01-01 00:20:00"},
            {"doc_id": 3, "text": t_b, "ts": "2024-01-01 00:25:00"},
        ],
        "001.jsonl",
    )
    drain()
    # sentinels hop the watermark so the data window closes and emits
    for n, ts in ((100, "2024-01-02 00:00:00"), (101, "2024-01-03 00:00:00")):
        src.push_messages(
            [{"doc_id": n, "text": f"sentinel {n}", "ts": ts}],
            f"{n:03d}_sentinel.jsonl",
        )
        drain()

    got = {
        r["doc_id"]
        for r in spark.read.parquet(tmp_dirs["sink"]).collect()
        if r["doc_id"] < 100
    }
    assert got == {1, 3}, f"expected keeper+fresh, got {got}"


def test_streaming_near_dedup_same_batch_keeps_one_winner(spark, tmp_dirs):
    """r3 ADVICE (medium): two near-dups arriving in the SAME
    micro-batch must not mutually drop — the min-id doc survives with
    all bands won. Also: three same-batch copies keep exactly the
    minimum, and an unrelated same-batch doc is untouched."""
    from broadway_spark.operators.dedup import streaming_near_dedup

    ddl = "doc_id long, text string, ts timestamp"
    src = SpoolSource(
        name="spool",
        path=tmp_dirs["spool"],
        schema_ddl=ddl,
        ack_data_column="doc_id",
    )
    t_a = "the quick brown fox jumps over the lazy dog tonight"
    t_b = "completely different words about spark streaming engines here"
    # one batch: three copies of t_a (ids 7, 4, 9) + one distinct doc
    src.push_messages(
        [
            {"doc_id": 7, "text": t_a, "ts": "2024-01-01 00:10:00"},
            {"doc_id": 4, "text": t_a, "ts": "2024-01-01 00:12:00"},
            {"doc_id": 9, "text": t_a, "ts": "2024-01-01 00:14:00"},
            {"doc_id": 6, "text": t_b, "ts": "2024-01-01 00:20:00"},
        ],
        "000.jsonl",
    )

    kept = streaming_near_dedup(
        src.read_stream(spark),
        "doc_id",
        "text",
        "ts",
        watermark_delay="30 minutes",
        window_duration="1 hour",
    )

    def drain():
        q = (
            kept.writeStream.format("parquet")
            .outputMode("append")
            .option("path", tmp_dirs["sink"])
            .option("checkpointLocation", tmp_dirs["ckpt"])
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    # sentinels hop the watermark so the data window closes and emits
    for n, ts in ((100, "2024-01-02 00:00:00"), (101, "2024-01-03 00:00:00")):
        src.push_messages(
            [{"doc_id": n, "text": f"sentinel {n}", "ts": ts}],
            f"{n:03d}_sentinel.jsonl",
        )
        drain()

    got = {
        r["doc_id"]
        for r in spark.read.parquet(tmp_dirs["sink"]).collect()
        if r["doc_id"] < 100
    }
    # min-id copy (4) survives — not zero survivors, not several
    assert got == {4, 6}, f"expected one winner + distinct doc, got {got}"


@pytest.mark.parametrize(
    "split",
    [
        [[7, 4, 9, 6]],  # all in one micro-batch
        [[7], [4], [9], [6]],  # one per micro-batch
        [[7, 4], [9, 6]],  # mixed
        [[9, 6], [7], [4]],  # winner arrives last
    ],
    ids=["one-batch", "per-batch", "mixed", "winner-last"],
)
def test_streaming_near_dedup_batch_split_independent(spark, tmp_dirs, split):
    """The min-id-per-window arbitration makes the keeper set a pure
    function of the data, independent of micro-batch boundaries: every
    split of the same four docs (three copies + one distinct) yields
    exactly {min copy id, distinct id}. The r3 design (arbitrary-keep
    band dedup) violated this — same-batch arrivals could drop ALL
    copies."""
    from broadway_spark.operators.dedup import streaming_near_dedup

    ddl = "doc_id long, text string, ts timestamp"
    src = SpoolSource(
        name="spool",
        path=tmp_dirs["spool"],
        schema_ddl=ddl,
        ack_data_column="doc_id",
    )
    t_a = "the quick brown fox jumps over the lazy dog tonight"
    t_b = "completely different words about spark streaming engines here"
    texts = {7: t_a, 4: t_a, 9: t_a, 6: t_b}

    kept = streaming_near_dedup(
        src.read_stream(spark),
        "doc_id",
        "text",
        "ts",
        watermark_delay="30 minutes",
        window_duration="1 hour",
    )

    def drain():
        q = (
            kept.writeStream.format("parquet")
            .outputMode("append")
            .option("path", tmp_dirs["sink"])
            .option("checkpointLocation", tmp_dirs["ckpt"])
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    for i, batch in enumerate(split):
        src.push_messages(
            [
                {
                    "doc_id": d,
                    "text": texts[d],
                    "ts": f"2024-01-01 00:1{d}:00",
                }
                for d in batch
            ],
            f"{i:03d}.jsonl",
        )
        drain()
    for n, ts in ((100, "2024-01-02 00:00:00"), (101, "2024-01-03 00:00:00")):
        src.push_messages(
            [{"doc_id": n, "text": f"sentinel {n}", "ts": ts}],
            f"{n:03d}_sentinel.jsonl",
        )
        drain()

    got = {
        r["doc_id"]
        for r in spark.read.parquet(tmp_dirs["sink"]).collect()
        if r["doc_id"] < 100
    }
    assert got == {4, 6}, f"split {split}: got {got}"


def test_streaming_histogram_sketch_matches_batch(spark, tmp_dirs):
    """The fixed-width bin histogram (sketch_hist_quantile's state) is
    a commutative monoid, so streamed partial aggregation across
    micro-batches must converge to the batch sketch bin-for-bin — the
    property that lets 1000 executors each emit partials and a
    streaming job keep a running quantile estimate."""
    src = SpoolSource(
        name="spool",
        path=tmp_dirs["spool"],
        schema_ddl=EVENTS_DDL,
        ack_data_column="event_id",
    )
    # three micro-batch files so the state store actually merges
    src.push_messages(make_events(70), "000.jsonl")
    src.push_messages(make_events(70, start=70), "001.jsonl")
    src.push_messages(make_events(60, start=140), "002.jsonl")

    binned = (
        src.read_stream(spark)
        .groupBy(
            "event_type", F.floor(F.col("value") / 10).alias("b")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    q = (
        binned.writeStream.format("memory")
        .queryName("hist_sketch")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r["event_type"], r["b"]): r["c"]
        for r in spark.sql("SELECT * FROM hist_sketch").collect()
    }

    batch_df = spark.createDataFrame(make_events(200))
    batch = {
        (r["event_type"], r["b"]): r["c"]
        for r in batch_df.groupBy(
            "event_type", F.floor(F.col("value") / 10).alias("b")
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert streamed == batch and len(batch) > 10


def test_streaming_cdc_compaction_matches_batch(spark, tmp_dirs):
    """CDC latest-wins compaction (cdc_upsert_compact's core) is a
    max-struct monoid, so streaming it across micro-batches in
    complete mode must converge to the batch compaction — including
    tombstone suppression — no matter how the change log is split."""
    src = SpoolSource(
        name="spool",
        path=tmp_dirs["spool"],
        schema_ddl=EVENTS_DDL,
        ack_data_column="event_id",
    )
    log = make_events(150)  # 'error' rows act as delete tombstones
    src.push_messages(log[:50], "000.jsonl")
    src.push_messages(log[50:120], "001.jsonl")
    src.push_messages(log[120:], "002.jsonl")

    def compact(df):
        probe = F.struct("event_id", "event_type", "value")
        latest = df.groupBy("user_id").agg(F.max(probe).alias("b"))
        return latest.where(F.col("b.event_type") != "error").select(
            "user_id",
            F.col("b.event_id").alias("last_event_id"),
            F.col("b.value").alias("last_value"),
        )

    q = (
        compact(src.read_stream(spark))
        .writeStream.format("memory")
        .queryName("cdc_state")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        r["user_id"]: (r["last_event_id"], r["last_value"])
        for r in spark.sql("SELECT * FROM cdc_state").collect()
    }
    batch = {
        r["user_id"]: (r["last_event_id"], r["last_value"])
        for r in compact(spark.createDataFrame(make_events(150))).collect()
    }
    assert streamed == batch and 0 < len(batch) < 7


def test_runtime_rate_limit_update(spark, tmp_dirs):
    """F3: update_rate_limiting takes effect on subsequent triggers
    (broadway.ex:1447-1523)."""
    src = SpoolSource(
        name="spool",
        path=tmp_dirs["spool"],
        schema_ddl=EVENTS_DDL,
        ack_data_column="event_id",
        allowed_per_trigger=10,
    )
    src.push_messages(make_events(60), "000.jsonl")
    assert src.get_rate_limiting() == 10
    src.update_rate_limiting(50)
    assert src.get_rate_limiting() == 50

    cfg = TopologyConfig(
        name="ratelimit-update",
        order_by="event_id",
        batchers={"default": BatcherConfig(batch_size=100)},
        sinks={"default": SinkConfig(path=tmp_dirs["sink"])},
        ack_log=SinkConfig(path=tmp_dirs["ack"]),
        checkpoint_dir=tmp_dirs["ckpt"],
    )
    q = Pipeline(cfg, src).start(
        spark, trigger="processingTime", processing_time="0 seconds"
    )
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            try:
                if spark.read.parquet(tmp_dirs["ack"]).count() >= 60:
                    break
            except Exception:
                pass
            time.sleep(1)
    finally:
        q.stop()

    ack = spark.read.parquet(tmp_dirs["ack"])
    assert ack.count() == 60
    per_batch = [r["count"] for r in ack.groupBy("batch_id").count().collect()]
    # updated cap (50) applies: some batch carries >10 rows, none >50
    assert max(per_batch) > 10
    assert max(per_batch) <= 50


def test_streaming_sessionize_matches_batch(spark, tmp_dirs):
    """sessionize() on a watermarked stream (native session_window
    state) must equal the batch computation on the same rows — the
    streaming-capable claim of operators/temporal.py, checked.

    Append-mode sessions emit only when the watermark passes their
    end; a future-dated sentinel delivered in a *later* trigger
    (admission caps the first trigger at the 90 real events) advances
    the watermark past every real session, and the trailing no-data
    micro-batch evicts them to the sink. The sentinel's own session
    stays in state (nothing outlives it) and is excluded."""
    from broadway_spark.operators.temporal import sessionize

    src = SpoolSource(
        name="spool",
        path=tmp_dirs["spool"],
        schema_ddl=EVENTS_DDL + ", ts timestamp",
        ack_data_column="event_id",
        allowed_per_trigger=90,
    )
    events = make_events(90)
    for i, e in enumerate(events):
        # 3 users; a >10-minute gap between hour blocks splits each
        # user's events into 3 sessions (blocks end :38, restart :00)
        e["user_id"] = i % 3
        e["ts"] = f"2024-01-01 {i // 30:02d}:{(i % 30) * 2 % 40:02d}:00"
    sentinel = make_events(2)
    for j, e in enumerate(sentinel):
        e["user_id"] = 99
        e["ts"] = f"2024-01-02 00:0{j}:00"
        e["event_id"] = 10_000 + j
    src.push_messages(events, "000.jsonl")
    src.push_messages(sentinel, "001.jsonl")

    stream = src.read_stream(spark).withWatermark("ts", "1 second")
    sessions = sessionize(
        stream,
        "ts",
        ["user_id"],
        gap="10 minutes",
        aggs=[F.count(F.lit(1)).alias("n_events")],
    )
    q = (
        sessions.writeStream.format("parquet")
        .option("path", tmp_dirs["sink"])
        .option("checkpointLocation", tmp_dirs["ckpt"])
        .outputMode("append")
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            try:
                if spark.read.parquet(tmp_dirs["sink"]).count() >= 9:
                    break
            except Exception:
                pass
            time.sleep(1)
    finally:
        q.stop()

    got = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in spark.read.parquet(tmp_dirs["sink"]).collect()
        if r["user_id"] != 99
    }
    batch_df = spark.createDataFrame(
        [(e["user_id"], e["ts"]) for e in events], "user_id long, ts string"
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"))
    want = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in sessionize(
            batch_df,
            "ts",
            ["user_id"],
            gap="10 minutes",
            aggs=[F.count(F.lit(1)).alias("n_events")],
        ).collect()
    }
    assert got == want and len(got) == 9


def test_stream_stream_interval_join(spark, tmp_dirs):
    """Stream-stream inner join with an interval predicate: each
    purchase joins the same user's clicks from the preceding 10
    minutes. Watermarks on both sides bound the join state (Spark
    drops buffered rows older than watermark + interval — the property
    that keeps state finite at 100 TB). Results must equal the batch
    join on the same rows."""
    import os

    clicks_dir = os.path.join(tmp_dirs["spool"], "clicks")
    buys_dir = os.path.join(tmp_dirs["spool"], "buys")
    src_c = SpoolSource(
        name="clicks", path=clicks_dir,
        schema_ddl="event_id long, user_id long, ts timestamp",
        ack_data_column="event_id",
    )
    src_b = SpoolSource(
        name="buys", path=buys_dir,
        schema_ddl="event_id long, user_id long, ts timestamp",
        ack_data_column="event_id",
    )
    clicks = [
        {"event_id": i, "user_id": i % 5, "ts": f"2024-01-01 00:{i % 50:02d}:00"}
        for i in range(100)
    ]
    buys = [
        {"event_id": 1000 + i, "user_id": i % 5, "ts": f"2024-01-01 00:{(i * 7) % 55:02d}:30"}
        for i in range(20)
    ]
    src_c.push_messages(clicks, "000.jsonl")
    src_b.push_messages(buys, "000.jsonl")

    cs = src_c.read_stream(spark).withWatermark("ts", "1 hour").alias("c")
    bs = src_b.read_stream(spark).withWatermark("ts", "1 hour").alias("b")
    joined = bs.join(
        cs,
        F.expr(
            "c.user_id = b.user_id AND "
            "c.ts BETWEEN b.ts - INTERVAL 10 MINUTES AND b.ts"
        ),
    ).select(
        F.col("b.event_id").alias("buy_id"),
        F.col("c.event_id").alias("click_id"),
    )
    q = (
        joined.writeStream.format("parquet")
        .option("path", tmp_dirs["sink"])
        .option("checkpointLocation", tmp_dirs["ckpt"])
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["buy_id"], r["click_id"])
        for r in spark.read.parquet(tmp_dirs["sink"]).collect()
    }
    cb = spark.createDataFrame(
        [(c["event_id"], c["user_id"], c["ts"]) for c in clicks],
        "event_id long, user_id long, ts string",
    ).select("event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"))
    bb = spark.createDataFrame(
        [(b["event_id"], b["user_id"], b["ts"]) for b in buys],
        "event_id long, user_id long, ts string",
    ).select("event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"))
    want = {
        (r["buy_id"], r["click_id"])
        for r in bb.alias("b").join(
            cb.alias("c"),
            F.expr(
                "c.user_id = b.user_id AND "
                "c.ts BETWEEN b.ts - INTERVAL 10 MINUTES AND b.ts"
            ),
        ).select(
            F.col("b.event_id").alias("buy_id"),
            F.col("c.event_id").alias("click_id"),
        ).collect()
    }
    assert got == want and len(got) > 20
