"""``TopologyConfig.state_partitions`` sets the shuffle width of the
pipeline's query on both start paths, and results do not depend on it.
"""

import glob
import json
import os
import re

import pandas as pd
from pyspark.sql import functions as F

from broadway_spark.config import (
    BatcherConfig,
    SinkConfig,
    TopologyConfig,
)
from broadway_spark.message import failed_status
from broadway_spark.plans import Pipeline
from broadway_spark.sources import FileStreamSource, SpoolSource

from .conftest import EVENTS_DDL, make_events
from .test_stateful_batcher import _wait_for_acks

KEY = "spark.sql.shuffle.partitions"


def _recorded_width(ckpt: str) -> str:
    """The shuffle width the query recorded at its first batch: the
    offset log's metadata line carries the query's conf."""
    with open(os.path.join(ckpt, "offsets", "0")) as f:
        lines = f.read().splitlines()
    return json.loads(lines[1])["conf"][KEY]


def _spool(dirs, n=60):
    src = SpoolSource(
        name="spool",
        path=dirs["spool"],
        schema_ddl=EVENTS_DDL,
        ack_data_column="event_id",
    )
    src.push_messages(make_events(n), "000_backlog.jsonl")
    return src


def _consumer_config(dirs, **overrides):
    base = dict(
        name="width",
        order_by="event_id",
        batchers={"default": BatcherConfig(batch_size=8)},
        sinks={"default": SinkConfig(path=dirs["sink"])},
        ack_log=SinkConfig(path=dirs["ack"]),
        checkpoint_dir=dirs["ckpt"],
        state_partitions=3,
    )
    base.update(overrides)
    return TopologyConfig(**base)


def test_run_to_completion_records_state_partitions(spark, tmp_dirs):
    session_width = spark.conf.get(KEY)
    assert session_width != "3"
    Pipeline(_consumer_config(tmp_dirs), _spool(tmp_dirs)).run_to_completion(spark)
    assert _recorded_width(tmp_dirs["ckpt"]) == "3"
    assert spark.conf.get(KEY) == session_width
    assert spark.read.parquet(tmp_dirs["ack"]).count() == 60


def test_start_stateful_records_state_partitions(spark, tmp_dirs):
    session_width = spark.conf.get(KEY)
    q = Pipeline(
        _consumer_config(tmp_dirs, name="width-stateful"), _spool(tmp_dirs)
    ).start_stateful(spark, processing_time="300 milliseconds")
    try:
        assert spark.conf.get(KEY) == session_width
        # the stateful query keeps running timer batches, so wait for
        # the acks instead of processAllAvailable
        assert _wait_for_acks(spark, tmp_dirs["ack"], 60), "drain incomplete"
    finally:
        q.stop()
    assert _recorded_width(tmp_dirs["ckpt"]) == "3"
    assert spark.conf.get(KEY) == session_width


def _handle_message(df):
    df = df.withColumn(
        "status",
        F.when(
            F.col("event_type") == "error",
            failed_status("poison:error-event", "processor"),
        ).otherwise(F.col("status")),
    )
    return df.withColumn("w_cents", F.expr("CAST(value * 100 AS BIGINT)"))


def _handle_batch(name, pdf):
    pdf = pdf.copy()
    pdf["props"] = f"{name}:{len(pdf)}"
    return pdf


def _handle_failed(pdf):
    pdf = pdf.copy()
    pdf["props"] = "dead-lettered"
    return pdf


def _two_file_drain(spark, tmp_path, width: int) -> dict:
    """Drain two parquet files, one per micro-batch, through the full
    stateless router at ``width`` shuffle partitions."""
    inp = tmp_path / "input"
    inp.mkdir(exist_ok=True)
    for i, start in enumerate((0, 300)):
        path = inp / f"part-{i}.parquet"
        if not path.exists():
            pd.DataFrame(make_events(300 if i == 0 else 150, start)).to_parquet(
                path, index=False
            )
            os.utime(path, (1_000_000 + i, 1_000_000 + i))
    out = tmp_path / f"w{width}"
    d = {k: str(out / k) for k in ("billing", "default", "dlq", "ack", "ckpt")}
    cfg = TopologyConfig(
        name="width-drain",  # ack_ref carries the name
        handle_message=_handle_message,
        route_by=F.when(F.col("event_type") == "purchase", F.lit("billing")),
        batch_key_by=F.col("user_id"),
        order_by="event_id",
        batchers={
            "billing": BatcherConfig(batch_size=7),
            "default": BatcherConfig(batch_size=("w_cents", 20000.0)),
        },
        sinks={
            "billing": SinkConfig(path=d["billing"]),
            "default": SinkConfig(path=d["default"]),
        },
        dlq=SinkConfig(path=d["dlq"]),
        ack_log=SinkConfig(path=d["ack"]),
        checkpoint_dir=d["ckpt"],
        handle_batch=_handle_batch,
        handle_failed=_handle_failed,
        state_partitions=width,
    )
    src = FileStreamSource(
        "events", str(inp), EVENTS_DDL, max_files_per_trigger=1
    )
    Pipeline(cfg, src).run_to_completion(spark)
    assert _recorded_width(d["ckpt"]) == str(width)

    def rows(path):
        df = spark.read.parquet(path)
        return df.columns, sorted((tuple(r) for r in df.collect()), key=repr)

    out = {k: rows(d[k]) for k in ("ack", "billing", "default", "dlq")}
    out["ack_files"] = len(glob.glob(os.path.join(d["ack"], "**", "part-*"), recursive=True))
    return out


def test_results_do_not_depend_on_width(spark, tmp_path):
    narrow = _two_file_drain(spark, tmp_path, 1)
    wide = _two_file_drain(spark, tmp_path, 7)
    # ack logs identical in every column, including batch_id, trigger
    # and the chunk's batch_size
    assert narrow["ack"] == wide["ack"]
    ack_cols, acks = narrow["ack"]
    assert len(acks) == 450
    batch_ids = {r[ack_cols.index("batch_id")] for r in acks}
    assert batch_ids == {0, 1}
    for k in ("billing", "default", "dlq"):
        assert narrow[k] == wide[k], k
    assert len(narrow["dlq"][1]) == 90
    # the ack log is written at the query's width: at most one file per
    # task, and at most `width` tasks per micro-batch, however many
    # branches (failed, billing, default) the ack union has
    assert 0 < narrow["ack_files"] <= 2 * 1
    assert 0 < wide["ack_files"] <= 2 * 7


def test_partition_by_shuffle_runs_at_state_partitions(spark, tmp_dirs):
    """The processor shuffle a partition_by key adds runs at the query's
    width, state_partitions, not at a core-count default."""
    q = Pipeline(
        _consumer_config(tmp_dirs, partition_by="user_id"), _spool(tmp_dirs)
    ).start(spark)
    try:
        assert q.awaitTermination(120), "drain incomplete"
    finally:
        q.stop()
    plan = q._jsq.streamingQuery().lastExecution().executedPlan().toString()
    shuffles = re.findall(r"hashpartitioning\(user_id#\d+L?, (\d+)\)", plan)
    assert shuffles and set(shuffles) == {"3"}, plan
