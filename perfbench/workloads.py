"""The three workloads. Each one stages seeded inputs, warms up once,
measures, and checks every output against ``reference``.

``measure`` runs one unit of work and returns a dict with ``unit_s``
(its wall time), ``cpu_s``, the latency tail, and, when the tracer is
on, the per-layer figures. A layer a workload never enters reads 0.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time
from datetime import datetime

import numpy as np
import pandas as pd

from perfbench import gen, probe, reference as ref

# Per-layer metrics. Every traced run prints all of them; 0 means the
# layer is absent from that workload.
STREAM_LAYER_METRICS = (
    "sources.latest_offset_ms",
    "sources.lag_msgs",
    "sources.spool_read_msgs_per_s",
    "plans.start_s",
    "plans.first_commit_s",
    "plans.query_planning_ms",
    "router.add_batch_ms",
    "router.jobs_per_batch",
    "router.stages_per_batch",
    "router.tasks_per_batch",
    "router.ack_rows",
    "router.dlq_rows",
    "batching.chunk_s",
    "stateful.add_batch_ms",
    "stateful.state_rows",
    "stateful.state_memory_bytes",
    "stateful.state_commit_ms",
    "stateful.trigger_share_size",
    "stateful.trigger_share_timeout",
    "stateful.trigger_share_flush",
    "checkpoint.wal_commit_ms",
    "checkpoint.commit_offsets_ms",
)
CURATION_LAYER_METRICS = (
    "text.score_s",
    "dedup.exact_s",
    "dedup.lsh_s",
    "dedup.clusters_s",
    "dedup.candidates",
    "dedup.verified_pairs",
    "dedup.pair_yield",
    "similarity.pq_s",
    "similarity.recall_at_k",
    "curation.wall_s",
    "curation.cpu_s",
)
SPARK_LAYER_METRICS = (
    "spark.executor_cpu_s",
    "spark.executor_run_s",
    "spark.gc_s",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "spark.tasks",
)
LAYER_METRICS = STREAM_LAYER_METRICS + CURATION_LAYER_METRICS + SPARK_LAYER_METRICS
# Layers whose self time the traced run reports (from spans); "bench"
# is the root spans' own time: waiting not covered by any layer.
SPAN_LAYERS = (
    "bench", "sources", "plans", "router", "batching", "stateful", "checkpoint",
    "text", "dedup", "similarity",
)


def unit_of(name: str) -> str:
    if "share" in name or name.endswith(("_yield", "recall_at_k")):
        return "ratio"
    for suffix, unit in (("_per_s", "1/s"), ("_ms", "ms"), ("_s", "s"), ("_mb", "MB"), ("_bytes", "bytes")):
        if name.endswith(suffix):
            return unit
    return "count"


def start_session():
    from broadway_spark import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it owns)
    to exit, rather than leaving that to interpreter shutdown."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _wait_for(pred, timeout_s: float, period_s: float = 0.05) -> bool:
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if pred():
            return True
        time.sleep(period_s)
    return pred()


def _count_rows(path: str) -> int:
    import pyarrow.dataset as ds

    try:
        return ds.dataset(path, format="parquet").count_rows()
    except (FileNotFoundError, OSError, ValueError):
        return 0


def _mean(xs) -> float:
    xs = [x for x in xs if x is not None]
    return float(statistics.fmean(xs)) if xs else 0.0


def _progress_means(progress: list[dict]) -> dict:
    d = lambda k: _mean(p["durationMs"].get(k, 0) for p in progress)  # noqa: E731
    st = [s for p in progress for s in p.get("stateOperators", [])]
    return {
        "latest_offset_ms": d("latestOffset"),
        "query_planning_ms": d("queryPlanning"),
        "add_batch_ms": d("addBatch"),
        "wal_commit_ms": d("walCommit"),
        "commit_offsets_ms": d("commitOffsets"),
        "state_rows": _mean(s["numRowsTotal"] for s in st),
        "state_memory_bytes": _mean(s["memoryUsedBytes"] for s in st),
        "state_commit_ms": _mean(s.get("commitTimeMs") for s in st),
    }


def _as_dict(p) -> dict:
    """A StreamingQueryProgress as a plain dict."""
    return json.loads(p.json)


def _end_offset_row(p: dict) -> int:
    end = p["sources"][0]["endOffset"] if p.get("sources") else None
    if isinstance(end, str):
        end = json.loads(end)
    if isinstance(end, dict):
        if "row" in end:
            return int(end["row"])
        return int(end.get("logOffset", -1)) + 1  # file source: batches admitted
    return 0


class _Base:
    name = ""

    def __init__(self, spark, seed: int, seconds: float, tracer: probe.Tracer, traced: bool) -> None:
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.traced = traced  # a traced run: the tracer is on while measuring
        self.details: dict = {"workload": self.name, "seconds": seconds}
        self.store = probe.StatusStore(spark)
        self.root_pid = os.getpid()

    def close(self) -> None:
        pass

    def _spark_layer(self, delta: dict) -> dict:
        return {f"spark.{k}": delta[k] for k in (
            "executor_cpu_s", "executor_run_s", "gc_s",
            "shuffle_write_bytes", "spill_bytes", "tasks",
        )}

    def layer_metrics(self, res: dict, self_s: dict[str, float]) -> dict:
        out = {k: 0.0 for k in LAYER_METRICS}
        out.update(res["layers"])
        out["proc.peak_rss_mb"] = res["peak_rss"] / 2**20
        out.update({f"wall.{k}": v for k, v in wall_metrics(res).items()})
        out.update({f"{k}.self_s": self_s.get(k, 0.0) for k in SPAN_LAYERS})
        return out


def wall_metrics(res: dict) -> dict:
    """The wall-clock figures of one measurement: they track the host's
    free CPU, so they are reported but not bounded."""
    return {
        "latency_p50_s": res["tail"]["p50_s"],
        "latency_p90_s": res["tail"]["p90_s"],
        "items_per_s": res["items_per_s"],
    }


# --- live_ingest -------------------------------------------------------------


class LiveIngest(_Base):
    """Open loop: a generator thread appends one JSONL file to a spool
    every TICK_S at RATE messages/s; the stateful pipeline batches by
    route and Zipf key across micro-batches and acks to an ack log."""

    name = "live_ingest"
    RATE = 200.0  # offered messages/s
    TICK_S = 0.05
    WARM = 200  # warm-up messages, in the first micro-batch
    SESSION_S = 2.0  # how long one set of users stays active
    MAX_LATE_S = 0.25  # generator lateness beyond this invalidates a window
    MAX_SLOPE = 0.25  # backlog growth beyond RATE * this invalidates a window
    TAIL_S = 60.0  # longest wait for the last acks after the window

    def stage(self, d: str) -> None:
        from broadway_spark.sources import SpoolSource

        self.dir = d
        n = self.WARM + int(self.RATE * self.seconds) * 4  # room for four windows
        self.msgs = gen.live_messages(self.seed, n, int(self.RATE * self.SESSION_S))
        self.src = SpoolSource(
            name="spool", path=os.path.join(d, "spool"), schema_ddl=gen.LIVE_DDL,
            ack_data_column="msg_id",
        )
        warm = self.msgs.iloc[: self.WARM].assign(due_ms=int(time.time() * 1000))
        self.src.push_messages(warm.to_dict("records"), "000000.jsonl")
        self.sent = self.WARM
        self.files = 1
        self.due: dict[int, float] = {}

    def _config(self):
        from pyspark.sql import functions as F

        from broadway_spark.config import BatcherConfig, SinkConfig, TopologyConfig
        from broadway_spark.operators.failure import with_status

        d = lambda s: os.path.join(self.dir, s)  # noqa: E731
        return TopologyConfig(
            name="live",
            order_by="msg_id",
            handle_message=lambda df: with_status(df, F.col("bad") == 1, "bad payload"),
            route_by=F.when(F.col("kind") == "order", F.lit("orders")).otherwise(F.lit("clicks")),
            batch_key_by=F.col("user_id"),
            batchers={"orders": BatcherConfig(), "clicks": BatcherConfig()},
            sinks={"orders": SinkConfig(d("sink_orders")), "clicks": SinkConfig(d("sink_clicks"))},
            dlq=SinkConfig(d("dlq")),
            ack_log=SinkConfig(d("ack")),
            checkpoint_dir=d("ckpt"),
            state_partitions=len(os.sched_getaffinity(0)),
        )

    def warm_up(self) -> None:
        from broadway_spark.plans import Pipeline

        t = time.time()
        self.q = Pipeline(self._config(), self.src).start_stateful(self.spark)
        self.start_s = time.time() - t
        commit0 = os.path.join(self.dir, "ckpt", "commits", "0")
        if not _wait_for(lambda: os.path.exists(commit0), 120):
            raise RuntimeError("live_ingest: first micro-batch never committed")
        self.first_commit_s = os.stat(commit0).st_mtime - t

    def _generate(self, t0: float, lo_id: int, n: int, late: list[float]) -> None:
        for off, lo, hi in gen.live_schedule(n, self.RATE, self.TICK_S):
            due = t0 + off
            pause = due - time.time()
            if pause > 0:
                time.sleep(pause)
            late.append(time.time() - due)
            rows = self.msgs.iloc[lo_id + lo : lo_id + hi]
            due_s = t0 + (np.arange(lo, hi) / self.RATE)
            self.src.push_messages(
                rows.assign(due_ms=(due_s * 1000).astype(np.int64)).to_dict("records"),
                f"{self.files:06d}.jsonl",
            )
            self.due.update(zip(rows["msg_id"].tolist(), due_s.tolist()))
            self.files += 1
            self.sent += hi - lo

    def measure(self) -> dict:
        traced = self.tracer.enabled
        n = int(self.RATE * self.seconds)
        lo_id = self.sent
        ack = os.path.join(self.dir, "ack")
        late: list[float] = []
        lag: list[tuple[float, float]] = []
        seen = set()
        if traced:
            with self.tracer.cost():
                base = self.store.snapshot()
        rss = probe.RssSampler(self.root_pid).start()
        cpu0 = probe.tree_cpu_s(self.root_pid)
        t0 = time.time() + 0.1
        gen_thread = threading.Thread(target=self._generate, args=(t0, lo_id, n, late))
        with self.tracer.span("bench", workload=self.name):
            root = self.tracer.current()
            gen_thread.start()
            want = lo_id + n
            deadline = t0 + self.seconds + self.TAIL_S
            while time.time() < deadline:
                p = self.q.lastProgress
                p = _as_dict(p) if p is not None else None
                if p is not None and p["batchId"] not in seen:
                    seen.add(p["batchId"])
                    if gen_thread.is_alive():
                        lag.append((time.time(), self.sent - _end_offset_row(p)))
                if not gen_thread.is_alive() and _count_rows(ack) >= want:
                    break
                time.sleep(0.1)
            gen_thread.join()
            t_end = time.time()
        acks = ref.read_parquet_dir(ack)
        # the ack log is written inside the micro-batch; wait for its commit
        last = os.path.join(self.dir, "ckpt", "commits", str(int(acks["batch_id"].max())))
        _wait_for(lambda: os.path.exists(last), 30)
        cpu = probe.tree_cpu_s(self.root_pid) - cpu0
        peak = rss.stop()
        if traced:
            # taken before the spool-read probe below runs a Spark job of its own
            with self.tracer.cost():
                delta = self.store.delta(base)
        progress = [p for p in map(_as_dict, self.q.recentProgress) if p["batchId"] in seen]
        window = pd.Series({i: self.due[i] for i in range(lo_id, lo_id + n)})
        lat = ref.ack_latencies(acks, ref.commit_times(os.path.join(self.dir, "ckpt")), window)
        tail = ref.tail_summary(lat)
        late_a = np.array(late)
        # the lag ramps up over the window's first micro-batch; growth is
        # judged on the samples after it
        slope = ref.backlog_slope(lag[1:])
        valid = bool(np.percentile(late_a, 99) <= self.MAX_LATE_S and slope <= self.MAX_SLOPE * self.RATE)
        self.details.update(
            {
                "offered_rate_per_s": self.RATE,
                "messages": n,
                "micro_batches": len(seen),
                "generator_late_p99_s": float(np.percentile(late_a, 99)),
                "generator_late_max_s": float(late_a.max()),
                "backlog_slope_msgs_per_s": slope,
                "valid": valid,
                **{f"tail_{k}": v for k, v in tail.items()},
            }
        )
        if not valid:
            raise InvalidWindow(self.details)
        res = {
            "unit_s": t_end - t0,
            "tail": tail,
            "items_per_s": float(np.isfinite(lat["latency_s"]).sum() / (t_end - t0)),
            "cpu_s": cpu,
            "peak_rss": peak,
        }
        if traced:
            with self.tracer.cost():
                probe.add_progress_spans(self.tracer, progress, root, "stateful")
            m = _progress_means(progress)
            win_acks = acks[acks["ack_data"].astype(np.int64) >= lo_id]
            trig = win_acks["trigger"].value_counts(normalize=True)
            res["layers"] = {
                "sources.latest_offset_ms": m["latest_offset_ms"],
                "sources.lag_msgs": _mean(x for _, x in lag),
                "sources.spool_read_msgs_per_s": self._spool_read_rate(),
                "plans.start_s": self.start_s,
                "plans.first_commit_s": self.first_commit_s,
                "plans.query_planning_ms": m["query_planning_ms"],
                "stateful.add_batch_ms": m["add_batch_ms"],
                "stateful.state_rows": m["state_rows"],
                "stateful.state_memory_bytes": m["state_memory_bytes"],
                "stateful.state_commit_ms": m["state_commit_ms"],
                "stateful.trigger_share_size": float(trig.get("size", 0.0)),
                "stateful.trigger_share_timeout": float(trig.get("timeout", 0.0)),
                "stateful.trigger_share_flush": float(trig.get("flush", 0.0)),
                "checkpoint.wal_commit_ms": m["wal_commit_ms"],
                "checkpoint.commit_offsets_ms": m["commit_offsets_ms"],
                **self._spark_layer(delta),
            }
            with self.tracer.cost():
                self.tracer.event("progress", {"batches": progress})
        return res

    def _spool_read_rate(self) -> float:
        """Batch-read a copy of the spool (data files only)."""
        from broadway_spark.sources import SpoolSource

        copy = os.path.join(self.dir, "spool_copy")
        shutil.copytree(
            self.src.path, copy, ignore=lambda _d, names: [n for n in names if n.startswith("_")]
        )
        src = SpoolSource("copy", copy, gen.LIVE_DDL, "msg_id")
        with self.tracer.span("sources.read_batch"):
            t = time.time()
            n = src.read_batch(self.spark).count()
            return n / (time.time() - t)

    def check(self) -> tuple[int, int, list[str]]:
        self.close()
        d = lambda s: os.path.join(self.dir, s)  # noqa: E731
        acks = ref.read_parquet_dir(d("ack"))
        sinks = {
            name: ref.read_parquet_dir(d(f"sink_{name}"), ["msg_id"])["msg_id"]
            for name in ("orders", "clicks")
        }
        dlq = ref.read_parquet_dir(d("dlq"), ["msg_id"])["msg_id"]
        return ref.check_live(self.msgs.iloc[: self.sent], acks, sinks, dlq)

    def close(self) -> None:
        q = getattr(self, "q", None)
        if q is not None and q.isActive:
            q.stop()


class InvalidWindow(RuntimeError):
    """The open loop fell behind or the backlog grew: not a sample."""


# --- backlog_drain -------------------------------------------------------------

DRAIN_DDL = "event_id long, user_id long, event_type string, value double"


def drain_handle_batch(name, pdf):
    """handle_batch: billing batches get their value doubled; other
    batchers pass through (every message returned, as required)."""
    if name == "billing":
        pdf = pdf.assign(value=pdf["value"] * 2.0)
    return pdf


def drain_handle_message(df):
    from pyspark.sql import functions as F

    from broadway_spark import message as M
    from broadway_spark.operators.failure import with_status

    df = with_status(df, F.col("event_type") == "error", ref.POISON_REASON)
    df = df.withColumn("w_cents", F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
    df = M.put_batch_mode(df, "flush", when=F.col("event_type") == "signup")
    df = M.ack_immediately(df, when=(F.col("event_type") != "error") & (F.col("user_id") % 7 == 0))
    return M.configure_ack(df, "retry", when=(F.col("event_type") == "error") & (F.col("user_id") % 5 == 0))


class BacklogDrain(_Base):
    """Closed drain of a staged parquet backlog through the stateless
    foreachBatch router, FILES_PER_TRIGGER files per micro-batch."""

    name = "backlog_drain"
    # two micro-batches; the first holds two thirds of the messages, so
    # the latency median and p90 each fall well inside one micro-batch
    ROWS_PER_FILE = [2000, 1000]
    FILES_PER_TRIGGER = 1

    def stage(self, d: str) -> None:
        self.dir = d
        self.files = gen.drain_backlog(self.seed, self.ROWS_PER_FILE)
        inp = os.path.join(d, "input")
        os.makedirs(inp)
        t = time.time() - 3600
        for i, f in enumerate(self.files):
            path = os.path.join(inp, f"part-{i:04d}.parquet")
            f.to_parquet(path, index=False)
            os.utime(path, (t + i, t + i))  # admission order = file order
        self.input = inp
        # warm-up drains a small file of the same shape from its own directory
        self.warm_input = os.path.join(d, "warm")
        os.makedirs(self.warm_input)
        self.files[0].head(50).to_parquet(os.path.join(self.warm_input, "part-0000.parquet"), index=False)
        self.expected = ref.drain_expected(self.files, self.FILES_PER_TRIGGER)
        self.n = 0
        if self.traced:
            # the traced run also times the curation chain, so its layers
            # are measured without a workload of their own
            self.curation = CorpusCuration(self.spark, self.seed, self.seconds, self.tracer, True)
            self.curation.stage(os.path.join(d, "curation"))

    def _config(self, d: str):
        from pyspark.sql import functions as F

        from broadway_spark.config import BatcherConfig, SinkConfig, TopologyConfig

        p = lambda s: os.path.join(d, s)  # noqa: E731
        return TopologyConfig(
            name=f"drain{self.n}",
            handle_message=drain_handle_message,
            route_by=F.when(F.col("event_type") == "purchase", F.lit("billing")),
            batch_key_by=F.col("user_id"),
            order_by="event_id",
            batchers={
                "billing": BatcherConfig(batch_size=ref.DRAIN_SIZE),
                "default": BatcherConfig(batch_size=("w_cents", float(ref.DRAIN_BUDGET_CENTS))),
            },
            sinks={"billing": SinkConfig(p("sink_billing")), "default": SinkConfig(p("sink_default"))},
            dlq=SinkConfig(p("dlq")),
            ack_log=SinkConfig(p("ack")),
            checkpoint_dir=p("ckpt"),
            handle_batch=drain_handle_batch,
            handle_failed=lambda pdf: pdf,
            state_partitions=len(os.sched_getaffinity(0)),
        )

    def _drain(self, input_dir: str | None = None) -> dict:
        from broadway_spark.plans import Pipeline
        from broadway_spark.sources import FileStreamSource

        d = os.path.join(self.dir, f"drain{self.n}")
        src = FileStreamSource(
            "events", input_dir or self.input, DRAIN_DDL, max_files_per_trigger=self.FILES_PER_TRIGGER
        )
        cfg = self._config(d)
        self.n += 1
        cpu0 = probe.tree_cpu_s(self.root_pid)
        t = time.time()
        Pipeline(cfg, src).run_to_completion(self.spark)
        wall = time.time() - t
        cpu = probe.tree_cpu_s(self.root_pid) - cpu0
        return {"dir": d, "t0": t, "wall": wall, "cpu": cpu}

    def warm_up(self) -> None:
        self._drain(self.warm_input)
        if self.traced:
            self.curation.warm_up()

    def measure(self) -> dict:
        traced = self.tracer.enabled
        if traced:
            with self.tracer.cost():
                listener = _ProgressListener(self.spark, self.tracer)
                base = self.store.snapshot()
        rss = probe.RssSampler(self.root_pid).start()
        with self.tracer.span("bench", workload=self.name):
            root = self.tracer.current()
            r = self._drain()
        peak = rss.stop()
        self.drain_dir = r["dir"]
        n_msgs = len(self.expected)
        acks = ref.read_parquet_dir(os.path.join(r["dir"], "ack"), ["ack_data", "batch_id"])
        due = pd.Series(r["t0"], index=self.expected.index[~self.expected["retry"]])
        tail = ref.tail_summary(ref.ack_latencies(acks, ref.commit_times(os.path.join(r["dir"], "ckpt")), due))
        self.details.update({"messages": n_msgs,
                             "micro_batches": -(-len(self.files) // self.FILES_PER_TRIGGER),
                             **{f"tail_{k}": v for k, v in tail.items()}})
        res = {
            "unit_s": r["wall"],
            "tail": tail,
            "items_per_s": n_msgs / r["wall"],
            "cpu_s": r["cpu"],
            "peak_rss": peak,
        }
        if traced:
            with self.tracer.cost():
                progress, started = listener.close()
                probe.add_progress_spans(self.tracer, progress, root, "router")
                delta = self.store.delta(base)
            m = _progress_means(progress)
            nb = max(1, len(progress))
            commit0 = os.path.join(r["dir"], "ckpt", "commits", "0")
            res["layers"] = {
                "sources.latest_offset_ms": m["latest_offset_ms"],
                "sources.lag_msgs": _mean(
                    n_msgs - sum(self.ROWS_PER_FILE[: _end_offset_row(p) * self.FILES_PER_TRIGGER])
                    for p in progress
                ),
                "plans.start_s": (started - r["t0"]) if started else 0.0,
                "plans.first_commit_s": os.stat(commit0).st_mtime - r["t0"],
                "plans.query_planning_ms": m["query_planning_ms"],
                "router.add_batch_ms": m["add_batch_ms"],
                "router.jobs_per_batch": delta["jobs"] / nb,
                "router.stages_per_batch": delta["stages"] / nb,
                "router.tasks_per_batch": delta["tasks"] / nb,
                "router.ack_rows": _count_rows(os.path.join(r["dir"], "ack")),
                "router.dlq_rows": _count_rows(os.path.join(r["dir"], "dlq")),
                "checkpoint.wal_commit_ms": m["wal_commit_ms"],
                "checkpoint.commit_offsets_ms": m["commit_offsets_ms"],
                **self._spark_layer(delta),
            }
            res["layers"]["batching.chunk_s"] = self._chunk_static()
            with self.tracer.cost():
                self.tracer.event("progress", {"batches": progress})
            cur = self.curation.measure()
            res["layers"].update({k: cur["layers"][k] for k in CURATION_LAYER_METRICS})
            self.details["curation"] = self.curation.details
        return res

    def _chunk_static(self) -> float:
        """Time the batching operators directly on a static copy of the
        first drain micro-batch, enveloped as the pipeline would."""
        from pyspark.sql import functions as F

        from broadway_spark import message as M
        from broadway_spark.operators.batching import (
            apply_per_batch_streamed, chunk_by_budget, chunk_by_size,
        )

        first = self.expected[self.expected["batch_id"] == 0].index
        df = self.spark.read.parquet(self.input).where(F.col("event_id") <= int(first.max()))
        env = M.normalize(df, "events", "events#static", F.col("event_id").cast("string"))
        env = drain_handle_message(env).withColumn(
            "batch_key", F.col("user_id").cast("string")
        ).where(F.col("status.ok")).persist()
        env.count()
        try:
            with self.tracer.span("batching", call="chunk+apply_per_batch_streamed"):
                t = time.time()
                sized = chunk_by_size(env.where(F.col("event_type") == "purchase"), ["batch_key"], "event_id", ref.DRAIN_SIZE)
                budget = chunk_by_budget(env.where(F.col("event_type") != "purchase"), ["batch_key"], "event_id",
                                         "w_cents", float(ref.DRAIN_BUDGET_CENTS))
                for chunked, name in ((sized, "billing"), (budget, "default")):
                    apply_per_batch_streamed(
                        chunked, ["batch_key", "chunk_id"],
                        lambda pdf, _n=name: drain_handle_batch(_n, pdf), schema=chunked.schema,
                    ).write.format("noop").mode("overwrite").save()
                return time.time() - t
        finally:
            env.unpersist()

    def check(self) -> tuple[int, int, list[str]]:
        p = lambda s: os.path.join(self.drain_dir, s)  # noqa: E731
        attempted, failed, notes = ref.check_drain(
            self.expected,
            ref.read_parquet_dir(p("ack")),
            {b: ref.read_parquet_dir(p(f"sink_{b}"), ["event_id", "value"]) for b in ("billing", "default")},
            ref.read_parquet_dir(p("dlq"), ["event_id", "dlq_disposition"]),
        )
        if self.traced:
            a, f, n = self.curation.check()
            attempted, failed, notes = attempted + a, failed + f, notes + [f"curation: {x}" for x in n]
        return attempted, failed, notes


class _ProgressListener:
    """Collects StreamingQueryProgress events of queries run inside a
    blocking call (``run_to_completion`` returns no query handle)."""

    def __init__(self, spark, tracer: probe.Tracer) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        self.progress: list[dict] = []
        self.started: float | None = None
        outer = self

        class L(StreamingQueryListener):
            def onQueryStarted(self, event):
                with tracer.cost():
                    t = datetime.fromisoformat(event.timestamp.replace("Z", "+00:00")).timestamp()
                    outer.started = outer.started or t

            def onQueryProgress(self, event):
                with tracer.cost():
                    outer.progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = L()
        spark.streams.addListener(self.listener)

    def close(self) -> tuple[list[dict], float | None]:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        self.spark.streams.removeListener(self.listener)
        return self.progress, self.started


# --- corpus_curation --------------------------------------------------------------


class CorpusCuration(_Base):
    """Batch curation chain: text scoring, exact dedup, MinHash-LSH
    near-dup pairs and clusters, PQ nearest neighbours."""

    name = "corpus_curation"
    N_BASE = 1000
    EXACT_SHARE = 0.10
    NEAR_SHARE = 0.10
    N_VECTORS = 1500
    N_QUERIES = 16
    K = 10
    THRESHOLD = 0.7
    LSH = {"num_hashes": 24, "bands": 8}

    def stage(self, d: str) -> None:
        self.dir = d
        self.corpus = gen.corpus(
            self.seed, self.N_BASE, self.EXACT_SHARE, self.NEAR_SHARE, self.N_VECTORS, self.N_QUERIES
        )
        # the warm-up runs the same chain over a small slice
        warm = os.path.join(d, "warm")
        os.makedirs(warm)
        self.corpus.docs.to_parquet(os.path.join(d, "docs.parquet"), index=False)
        self.corpus.vectors.to_parquet(os.path.join(d, "vectors.parquet"), index=False)
        self.corpus.docs.head(100).to_parquet(os.path.join(warm, "docs.parquet"), index=False)
        v = self.corpus.vectors
        v[(v["vec_id"] < 200) | v["vec_id"].isin(self.corpus.query_ids)].to_parquet(
            os.path.join(warm, "vectors.parquet"), index=False)
        self.warm_input = warm
        self.n = 0

    def _pass(self, src: str | None = None) -> dict:
        from pyspark.sql import functions as F

        from broadway_spark.functions.hashing import fingerprint
        from broadway_spark.functions.text import language_id, quality_ppm, token_count
        from broadway_spark.operators import materialize
        from broadway_spark.operators.dedup import exact_dedup_stats, minhash_lsh_pairs, near_dup_clusters
        from broadway_spark.operators.similarity import ann_pq_topk
        from broadway_spark.functions.exact import ppm

        out = os.path.join(self.dir, f"pass{self.n}")
        self.n += 1
        o = lambda s: os.path.join(out, s)  # noqa: E731
        cpu0 = probe.tree_cpu_s(self.root_pid)
        t = time.time()
        src = src or self.dir
        docs = self.spark.read.parquet(os.path.join(src, "docs.parquet"))
        with self.tracer.span("text"):
            t_s = time.time()
            docs.select(
                "doc_id",
                quality_ppm("text").alias("quality_ppm"),
                token_count("text").alias("token_count"),
                language_id("text").alias("language_id"),
            ).write.parquet(o("scores"))
            score_s = time.time() - t_s
        with self.tracer.span("dedup", step="exact"):
            t_e = time.time()
            exact_dedup_stats(docs.withColumn("fp", fingerprint("text")), ["fp"], "doc_id").drop(
                "fp").write.parquet(o("exact"))
            exact_s = time.time() - t_e
        keepers = self.spark.read.parquet(o("exact")).select(F.col("keeper_id").alias("doc_id"))
        with self.tracer.span("dedup", step="lsh"):
            t_l = time.time()
            minhash_lsh_pairs(
                docs.join(keepers, "doc_id", "left_semi"), "doc_id", "text", threshold=None, **self.LSH
            ).write.parquet(o("candidates"))
            lsh_s = time.time() - t_l
        verified = self.spark.read.parquet(o("candidates")).where(
            F.col("jaccard_ppm") >= ppm(self.THRESHOLD))
        with self.tracer.span("dedup", step="clusters"):
            t_c = time.time()
            near_dup_clusters(verified).write.parquet(o("clusters"))
            clusters_s = time.time() - t_c
        vecs = self.spark.read.parquet(os.path.join(src, "vectors.parquet"))
        queries = vecs.where(F.col("vec_id").isin(self.corpus.query_ids))
        with self.tracer.span("similarity"):
            t_p = time.time()
            ann_pq_topk(vecs, queries, "vec_id", "embedding", k=self.K).write.parquet(o("pq"))
            pq_s = time.time() - t_p
        wall = time.time() - t
        cpu = probe.tree_cpu_s(self.root_pid) - cpu0
        materialize.release_all()
        return {"wall": wall, "cpu": cpu, "score_s": score_s, "exact_s": exact_s, "lsh_s": lsh_s,
                "clusters_s": clusters_s, "pq_s": pq_s, "dir": out}

    def warm_up(self) -> None:
        self._pass(self.warm_input)

    def measure(self) -> dict:
        traced = self.tracer.enabled
        if traced:
            with self.tracer.cost():
                base = self.store.snapshot()
        rss = probe.RssSampler(self.root_pid).start()
        with self.tracer.span("bench", workload=self.name):
            r = self._pass()
        peak = rss.stop()
        self.pass_dir = r["dir"]
        n_docs = len(self.corpus.docs)
        # every document of a pass is done when the pass's last output is
        # written: its latency is the pass time
        tail = ref.tail_summary(pd.DataFrame({"batch_id": np.zeros(n_docs), "latency_s": r["wall"]}))
        self.details.update({"documents": n_docs, "curation_s": r["wall"],
                             **{f"tail_{k}": v for k, v in tail.items()}})
        res = {
            "unit_s": r["wall"],
            "tail": tail,
            "items_per_s": n_docs / r["wall"],
            "cpu_s": r["cpu"],
            "peak_rss": peak,
        }
        if traced:
            with self.tracer.cost():
                delta = self.store.delta(base)
            cand = ref.read_parquet_dir(os.path.join(r["dir"], "candidates"))
            n_ver = int((cand["jaccard_ppm"] >= int(self.THRESHOLD * ref.PPM)).sum())
            res["layers"] = {
                "text.score_s": r["score_s"],
                "dedup.exact_s": r["exact_s"],
                "dedup.lsh_s": r["lsh_s"],
                "dedup.clusters_s": r["clusters_s"],
                "dedup.candidates": len(cand),
                "dedup.verified_pairs": n_ver,
                "dedup.pair_yield": n_ver / max(1, len(cand)),
                "similarity.pq_s": r["pq_s"],
                "similarity.recall_at_k": self._recall(r["dir"])[0],
                "curation.wall_s": r["wall"],
                "curation.cpu_s": r["cpu"],
                **self._spark_layer(delta),
            }
        return res

    def _recall(self, pass_dir: str) -> tuple[float, pd.DataFrame, pd.DataFrame]:
        from pyspark.sql import functions as F

        from broadway_spark.operators.similarity import ann_bruteforce_topk

        if not hasattr(self, "_exact_knn"):
            vecs = self.spark.read.parquet(os.path.join(self.dir, "vectors.parquet"))
            queries = vecs.where(F.col("vec_id").isin(self.corpus.query_ids))
            self._exact_knn = ann_bruteforce_topk(vecs, queries, "vec_id", "embedding", k=self.K).toPandas()
        approx = ref.read_parquet_dir(os.path.join(pass_dir, "pq"))
        return ref.recall_at_k(approx, self._exact_knn), approx, self._exact_knn

    def check(self) -> tuple[int, int, list[str]]:
        import duckdb

        from broadway_spark.functions.text import language_id_sql, quality_ppm_sql, token_count_sql

        docs = self.corpus.docs
        p = lambda s: os.path.join(self.pass_dir, s)  # noqa: E731
        # 1. scores against the DuckDB twins
        con = duckdb.connect()
        con.register("docs", docs)
        want = con.execute(
            f"SELECT doc_id, {quality_ppm_sql('text')} AS quality_ppm, {token_count_sql('text')} AS token_count, "
            f"{language_id_sql('text')} AS language_id FROM docs ORDER BY doc_id"
        ).df()
        con.close()
        got = ref.read_parquet_dir(p("scores")).sort_values("doc_id").reset_index(drop=True)
        score_bad = int(len(want) != len(got)) * len(want) or int(
            (got[want.columns].astype(str).to_numpy() != want.astype(str).to_numpy()).any(axis=1).sum()
        )
        attempted, failed, notes = len(want), score_bad, []
        if score_bad:
            notes.append(f"scores: {score_bad} documents differ from the DuckDB twins")
        # 2. exact dedup
        a, f, n = ref.check_exact(docs, ref.read_parquet_dir(p("exact")), self.corpus.exact_groups)
        attempted, failed, notes = attempted + a, failed + f, notes + n
        # 3. near dedup: candidate scores exact, injected pairs verified,
        #    clusters equal the connected components of verified pairs
        cand = ref.read_parquet_dir(p("candidates"))
        thr = int(self.THRESHOLD * ref.PPM)
        verified = cand[cand["jaccard_ppm"] >= thr]
        pairs = set(zip(verified["id_a"].astype(int), verified["id_b"].astype(int)))
        labels = ref.components(pairs)
        a, f, n = ref.check_near(docs, cand, thr, self.corpus.near_pairs, labels)
        attempted, failed, notes = attempted + a, failed + f, notes + n
        clusters = ref.read_parquet_dir(p("clusters"))
        want_c = pd.Series(labels).value_counts()
        got_c = clusters.set_index("cluster_id")["size"]
        c_bad = int(len(got_c) != len(want_c) or not (got_c.sort_index().values == want_c.sort_index().values).all())
        attempted, failed = attempted + 1, failed + c_bad
        if c_bad:
            notes.append("clusters differ from the connected components of verified pairs")
        # 4. PQ against the exact top-k
        recall, approx, exact = self._recall(self.pass_dir)
        per_q = approx.groupby("query_id")["rank"].apply(lambda r: sorted(r) == list(range(1, self.K + 1)))
        q_bad = int((~per_q).sum()) + (len(self.corpus.query_ids) - len(per_q))
        if recall < 0.5:
            q_bad = len(self.corpus.query_ids)
            notes.append(f"pq recall_at_k {recall:.3f} below 0.5")
        attempted, failed = attempted + len(self.corpus.query_ids), failed + q_bad
        self.details["recall_at_k"] = recall
        return attempted, failed, notes


def make(name: str, spark, seed: int, seconds: float, tracer: probe.Tracer, traced: bool) -> _Base:
    cls = {c.name: c for c in (LiveIngest, BacklogDrain, CorpusCuration)}[name]
    return cls(spark, seed, seconds, tracer, traced)
