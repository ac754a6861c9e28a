"""S4 (producer concurrency) + X2 (partitioned ordering): the spool
source reads one admitted range through ≥4 parallel partitions, and
per-key processing order is still preserved end-to-end — the analogue
of the reference's partition-ordering test
(``test/broadway_test.exs:1433-1454``: same key ⇒ same partition ⇒
order preserved under concurrency).
"""

import glob
import os
import uuid

from pyspark.sql import functions as F

from broadway_spark.config import BatcherConfig, SinkConfig, TopologyConfig
from broadway_spark.plans import Pipeline
from broadway_spark.sources import SpoolSource
from broadway_spark.sources.spool import _SpoolStreamReader

from .conftest import iter_spool_rows, EVENTS_DDL, make_events


def test_spool_splits_admitted_range_into_partitions(spark, tmp_path):
    spool = str(tmp_path / "spool")
    src = SpoolSource(
        name="s",
        path=spool,
        schema_ddl=EVENTS_DDL,
        ack_data_column="event_id",
        num_partitions=4,
    )
    src.push_messages(make_events(400), "000.jsonl")
    schema = spark.createDataFrame([], EVENTS_DDL).schema
    reader = _SpoolStreamReader(schema, {"path": spool, "num_partitions": "4"})
    parts = reader.partitions({"row": 0}, {"row": 400})
    assert len(parts) == 4
    ranges = sorted((p.start, p.end) for p in parts)
    # contiguous, disjoint, covering [0, 400)
    assert ranges[0][0] == 0 and ranges[-1][1] == 400
    for (s1, e1), (s2, _) in zip(ranges, ranges[1:]):
        assert e1 == s2
    # every row read exactly once across partitions
    seen = []
    for p in parts:
        seen.extend(r[0] for r in iter_spool_rows(reader, p))
    assert sorted(seen) == list(range(400))


def test_admission_count_is_stat_only_for_unchanged_files(spark, tmp_path):
    """r3 verdict item 7: latestOffset's backlog count must not re-read
    every spool file every trigger (O(total backlog) on the driver).
    With 200 files, trigger 2 costs 200 stats and zero content reads;
    appending one file re-reads exactly that file."""
    spool = str(tmp_path / "spool")
    src = SpoolSource(
        name="s", path=spool, schema_ddl=EVENTS_DDL, ack_data_column="event_id"
    )
    for i in range(200):
        src.push_messages(make_events(5, start=i * 5), f"{i:04d}.jsonl")
    schema = spark.createDataFrame([], EVENTS_DDL).schema
    reader = _SpoolStreamReader(schema, {"path": spool})

    assert reader.latestOffset() == {"row": 1000}
    assert reader._counts.files_read == 200  # first trigger: full scan
    assert reader.latestOffset() == {"row": 1000}
    assert reader._counts.files_read == 200  # second trigger: stats only

    src.push_messages(make_events(5, start=1000), "0200.jsonl")  # new file
    assert reader.latestOffset() == {"row": 1005}
    assert reader._counts.files_read == 201  # exactly one new read

    # replacing a file (new mtime/size) re-reads exactly that file
    src.push_messages(make_events(8, start=250), "0050.jsonl")
    assert reader.latestOffset() == {"row": 1008}
    assert reader._counts.files_read == 202


def test_function_form_partition_by_preserves_key_order(spark, tmp_dirs, tmp_path):
    """options.ex:306-316 function form: partition_by may be an
    arbitrary function of the row (here user_id % 3 as a callable
    DataFrame -> Column), mirroring the reference's custom-function
    ordering contract (broadway_test.exs:1433-1454) — same function
    value ⇒ same partition ⇒ per-key order preserved."""
    order_log = str(tmp_path / "orderlog")
    os.makedirs(order_log)

    def handle_batch(name, pdf):
        fn = os.path.join(order_log, f"{uuid.uuid4().hex}.txt")
        with open(fn, "w") as fh:
            ids = ",".join(str(v) for v in pdf["event_id"])
            fh.write(f"{pdf['batch_key'].iloc[0]}|{pdf['chunk_id'].iloc[0]}|{ids}\n")
        return pdf

    src = SpoolSource(
        name="spool",
        path=tmp_dirs["spool"],
        schema_ddl=EVENTS_DDL,
        ack_data_column="event_id",
        num_partitions=4,
    )
    src.push_messages(make_events(300), "000.jsonl")
    cfg = TopologyConfig(
        name="fn-partition",
        order_by="event_id",
        partition_by=lambda df: F.pmod(F.col("user_id"), F.lit(3)),
        state_partitions=8,
        batch_key_by=F.col("user_id"),
        handle_batch=handle_batch,
        batchers={"default": BatcherConfig(batch_size=25)},
        sinks={"default": SinkConfig(path=tmp_dirs["sink"])},
        ack_log=SinkConfig(path=tmp_dirs["ack"]),
        checkpoint_dir=tmp_dirs["ckpt"],
    )
    Pipeline(cfg, src).run_to_completion(spark, timeout_s=120)

    per_key: dict[str, list[tuple[int, list[int]]]] = {}
    for fn in glob.glob(os.path.join(order_log, "*.txt")):
        with open(fn) as fh:
            key, chunk, ids = fh.read().strip().split("|")
            per_key.setdefault(key, []).append(
                (int(chunk), [int(x) for x in ids.split(",")])
            )
    assert len(per_key) == 7
    all_ids = []
    for key, chunks in per_key.items():
        chunks.sort()
        seq = [i for _, ids in chunks for i in ids]
        assert seq == sorted(seq), f"key {key} processed out of order"
        all_ids.extend(seq)
    assert sorted(all_ids) == list(range(300)), "every row exactly once"


def test_per_key_order_preserved_under_parallel_reads(spark, tmp_dirs, tmp_path):
    """4 read partitions + 8 processor partitions: handle_batch must
    still observe each key's events in ascending order, across chunks
    (chunk_id sequences the key's batches)."""
    order_log = str(tmp_path / "orderlog")
    os.makedirs(order_log)

    def handle_batch(name, pdf):
        key = pdf["batch_key"].iloc[0]
        chunk = pdf["chunk_id"].iloc[0]
        fn = os.path.join(order_log, f"{uuid.uuid4().hex}.txt")
        with open(fn, "w") as fh:
            ids = ",".join(str(v) for v in pdf["event_id"])
            fh.write(f"{key}|{chunk}|{ids}\n")
        return pdf

    src = SpoolSource(
        name="spool",
        path=tmp_dirs["spool"],
        schema_ddl=EVENTS_DDL,
        ack_data_column="event_id",
        num_partitions=4,
    )
    src.push_messages(make_events(400), "000.jsonl")
    cfg = TopologyConfig(
        name="s4-order",
        order_by="event_id",
        partition_by="user_id",
        state_partitions=8,
        batch_key_by=F.col("user_id"),
        handle_batch=handle_batch,
        batchers={"default": BatcherConfig(batch_size=25)},
        sinks={"default": SinkConfig(path=tmp_dirs["sink"])},
        ack_log=SinkConfig(path=tmp_dirs["ack"]),
        checkpoint_dir=tmp_dirs["ckpt"],
    )
    Pipeline(cfg, src).run_to_completion(spark, timeout_s=120)

    per_key: dict[str, list[tuple[int, list[int]]]] = {}
    for fn in glob.glob(os.path.join(order_log, "*.txt")):
        with open(fn) as fh:
            key, chunk, ids = fh.read().strip().split("|")
            per_key.setdefault(key, []).append(
                (int(chunk), [int(x) for x in ids.split(",")])
            )

    # 400 events over 7 user_ids
    assert len(per_key) == 7
    all_ids = []
    for key, chunks in per_key.items():
        chunks.sort()
        seq = [i for _, ids in chunks for i in ids]
        assert seq == sorted(seq), f"key {key} processed out of order"
        # and the key's ids are exactly user_id ≡ key (mod 7)
        assert {i % 7 for i in seq} == {int(key)}
        all_ids.extend(seq)
    assert sorted(all_ids) == list(range(400)), "every row exactly once"


def test_schema_evolution_old_files_null_fill(spark, tmp_path):
    """Schema evolution tolerance: after a new column is added to the
    reader schema, rows from files written under the OLD schema load
    with NULL for the new column instead of erroring — the additive
    migration path for a long-lived spool."""
    spool = str(tmp_path / "spool")
    src = SpoolSource(
        name="s", path=spool, schema_ddl=EVENTS_DDL, ack_data_column="event_id"
    )
    src.push_messages(make_events(10), "000.jsonl")  # old schema

    new_ddl = EVENTS_DDL + ", region string"
    new_rows = make_events(5, start=10)
    for r in new_rows:
        r["region"] = "eu"
    src2 = SpoolSource(
        name="s", path=spool, schema_ddl=new_ddl, ack_data_column="event_id"
    )
    src2.push_messages(new_rows, "001.jsonl")

    schema = spark.createDataFrame([], new_ddl).schema
    reader = _SpoolStreamReader(schema, {"path": spool})
    end = reader.latestOffset()
    assert end == {"row": 15}
    rows = [
        r
        for p in reader.partitions({"row": 0}, end)
        for r in iter_spool_rows(reader, p)
    ]
    by_id = {r[0]: r for r in rows}
    assert by_id[0][-1] is None  # old row: new column null-filled
    assert by_id[12][-1] == "eu"  # new row: value present
