"""SpoolSource — a custom Python DataSource with rate-limit admission.

The Spark translation of the reference's producer stage + token-bucket
rate limiter (``lib/broadway/topology/producer_stage.ex`` +
``rate_limiter.ex:44-106``):

- the *queue* is a directory of JSON-lines files; appending a file is
  ``Broadway.push_messages/2`` (``broadway.ex:1291-1297``)
- *admission control* happens driver-side in ``latestOffset``: each
  micro-batch advances the offset by at most ``allowed_per_trigger``
  rows — with ``Trigger.ProcessingTime(interval)`` this is exactly the
  "≤ allowed_messages per interval" contract
  (``options.ex:98-128``; contract test ``broadway_test.exs:2595-2645``)
- *acknowledgement* is ``commit(offset)``: the committed offset is
  journaled to ``_commits.jsonl`` in the spool dir — the source-side
  half of at-least-once delivery (``acknowledger.ex``; SURVEY §1.2 maps
  per-message acks to offset commit + checkpoint)

The offset is a single row index over the sorted file list, so
admission is exact across partitions (the reference makes the same
single-node trade: "rate limiting takes the node as the unit",
``broadway.ex:55-59``; on a cluster the spool would shard by file).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.errors import PySparkNotImplementedError
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType

from broadway_spark.sources.claims import _parse_pos_int, field_coercers

SPOOL_FORMAT = "broadway_spool"
COMMIT_JOURNAL = "_commits.jsonl"
RATE_CONTROL_FILE = "_rate_control.json"
DISCARD_JOURNAL = "_discards.jsonl"


def _data_files(path: str) -> list[str]:
    try:
        names = sorted(
            f for f in os.listdir(path)
            if f.endswith(".jsonl") and not f.startswith("_")
        )
    except FileNotFoundError:
        return []
    return [os.path.join(path, f) for f in names]


def _snapshot_files(path: str) -> list[tuple[str, int]]:
    """Point-in-time (file, non-blank-row-count) snapshot of the spool.
    Planning embeds this snapshot into every partition so executors
    never re-list the directory: a file pushed concurrently whose name
    sorts before existing files (or an append to an existing file)
    cannot shift global row indices between planning and execution."""
    snap = []
    for f in _data_files(path):
        with open(f, "rb") as fh:
            snap.append((f, sum(1 for line in fh if line.strip())))
    return snap


class _RowCountCache:
    """Per-file line counts keyed by (size, mtime_ns).

    ``latestOffset`` runs on the driver every trigger; re-reading every
    spool file there is O(total backlog) per trigger and becomes the
    admission bottleneck on a large spool. Spool files are append-only,
    so (size, mtime_ns) identifies content: unchanged files cost one
    ``stat``, only new/appended files are re-read.
    """

    def __init__(self) -> None:
        self._by_file: dict[str, tuple[int, int, int]] = {}
        self.files_read = 0  # actual content scans (observability/tests)

    def snapshot(self, path: str) -> list[tuple[str, int]]:
        """(file, row-count) list via the cache — unchanged files cost
        one stat; only new/appended files are re-read."""
        snap = []
        live = set()
        for f in _data_files(path):
            live.add(f)
            try:
                st = os.stat(f)
            except FileNotFoundError:
                continue
            cached = self._by_file.get(f)
            if cached and cached[0] == st.st_size and cached[1] == st.st_mtime_ns:
                snap.append((f, cached[2]))
                continue
            with open(f, "rb") as fh:
                n = sum(1 for line in fh if line.strip())
            self.files_read += 1
            # Stat before read: if the file grew in between, the count
            # is newer than the recorded (size, mtime) and the next
            # trigger re-reads — conservative, never stale-low forever.
            self._by_file[f] = (st.st_size, st.st_mtime_ns, n)
            snap.append((f, n))
        for gone in [f for f in self._by_file if f not in live]:
            del self._by_file[gone]
        return snap

    def total(self, path: str) -> int:
        return sum(n for _, n in self.snapshot(path))


class _SpoolPartition(InputPartition):
    """A contiguous row range [start, end) over a PLANNED file
    snapshot. ``files`` holds only the (file, row-count) entries of
    the snapshot frozen at partition-planning time on the driver that
    overlap the range, and ``first_row`` is the global row index of
    the first of them: a task pickles and walks the files it reads,
    not the spool's whole history. Executors read only these files
    (capped at the planned per-file counts) so concurrent
    pushes/appends between planning and execution can't shift the
    global row indexing."""

    def __init__(
        self,
        path: str,
        start: int,
        end: int,
        snap: list[tuple[str, int]],
    ):
        self.path = path
        self.start = start
        self.end = end
        self.first_row = start
        self.files: list[tuple[str, int]] = []
        idx = 0
        for f, n in snap:
            if idx >= end:
                break
            if n and idx + n > start:
                if not self.files:
                    self.first_row = idx
                self.files.append((f, n))
            idx += n


class _SpoolStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict):
        self.path = options["path"]
        self.allowed = _parse_pos_int(
            options.get("allowed_per_trigger"), "allowed_per_trigger"
        )
        self.max_backlog = _parse_pos_int(
            options.get("max_backlog"), "max_backlog"
        )
        self.num_partitions = int(options.get("num_partitions", 4))
        self.fields = [f.name for f in schema.fields]
        self.schema = schema
        # Arrow fast path (r10 verdict item 5 — the 0.7 s/micro-batch
        # Python-source floor): read() may yield pyarrow RecordBatches
        # instead of per-row tuples, replacing per-row pickle+convert
        # with one Arrow IPC block per chunk. Gated to schemas of
        # exact-representation primitives — timestamp/date keep the
        # row path (naive-datetime↔tz-aware Arrow conversion is the
        # one place the two paths could disagree), and `arrow=false`
        # forces rows for A/B measurement.
        _SAFE_ARROW = {"long", "bigint", "int", "integer", "smallint",
                       "tinyint", "double", "float", "string", "boolean"}
        self._arrow_schema = None
        if str(options.get("arrow", "true")).lower() != "false" and all(
            f.dataType.simpleString() in _SAFE_ARROW for f in schema.fields
        ):
            try:
                from pyspark.sql.pandas.types import to_arrow_schema

                self._arrow_schema = to_arrow_schema(schema)
            except Exception:  # noqa: BLE001 - fall back to row path
                self._arrow_schema = None
        self.coercers = field_coercers(schema)
        self._counts = _RowCountCache()

    def initialOffset(self) -> dict:
        return {"row": 0}

    def _last_committed(self) -> int:
        # Restart seed: the reader object is fresh after a crash, but
        # Spark resumes from the checkpointed offset — admission must
        # resume from there too, or the reported end regresses below the
        # committed start and the stream stalls for ceil(committed /
        # allowed) empty triggers. The journal is our durable record of
        # the committed position (the checkpoint commit log is the
        # authoritative one, but is not readable from here).
        last = 0
        try:
            with open(os.path.join(self.path, COMMIT_JOURNAL)) as fh:
                for line in fh:
                    line = line.strip()
                    if line:
                        last = max(last, json.loads(line).get("committed_row", 0))
        except (FileNotFoundError, ValueError, json.JSONDecodeError):
            pass
        return last

    def latestOffset(self) -> dict:
        # Admission control: this is the rate_limiter.ex token bucket —
        # one refill per trigger, computed on the driver so the cap is
        # global, not per-partition. Spark calls latestOffset once per
        # trigger; we remember the last end we handed out to advance by
        # at most `allowed` rows each call. The rate-control file (F3:
        # Broadway.update_rate_limiting/2, broadway.ex:1447-1523) is
        # re-read every trigger so the limit can change at runtime.
        prev = getattr(self, "_last_end", None)
        if prev is None:
            prev = self._last_committed()
        total = self._counts.total(self.path)
        # F4 bounded buffer: the reference's producers default to
        # buffer_size :infinity, and so do we (max_backlog None). With
        # a bound, the OLDEST overflow rows are discarded — skipped by
        # the offset, never admitted, never acked — and the loss is
        # loudly recorded (format_discarded/2, broadway.ex:1083-1092,
        # producer_stage.ex:230-239): one journal line per discard
        # plus a driver log warning.
        if self.max_backlog is not None and total - prev > self.max_backlog:
            skip_to = total - self.max_backlog
            self._record_discard(prev, skip_to)
            prev = skip_to
        allowed = self._current_allowed()
        nxt = min(total, prev + allowed) if allowed else total
        self._last_end = nxt
        return {"row": nxt}

    def _record_discard(self, from_row: int, to_row: int) -> None:
        import logging

        n = to_row - from_row
        with open(os.path.join(self.path, DISCARD_JOURNAL), "a") as fh:
            fh.write(
                json.dumps(
                    {"from_row": from_row, "to_row": to_row, "discarded": n}
                )
                + "\n"
            )
        logging.getLogger("broadway_spark.spool").warning(
            "Discarding %d messages from buffer (backlog over "
            "max_backlog=%d); rows [%d, %d) skipped",
            n,
            self.max_backlog,
            from_row,
            to_row,
        )

    def _current_allowed(self) -> int | None:
        # Error handling mirrors get_rate_limiting exactly: any
        # unreadable/invalid control file (missing, torn despite the
        # atomic rename, non-integer, non-positive) falls back to the
        # constructor rate. An explicit null means unlimited; 0 is
        # INVALID (reference pos_integer) and update_rate_limiting
        # refuses to write it.
        ctrl = os.path.join(self.path, RATE_CONTROL_FILE)
        try:
            with open(ctrl) as fh:
                v = json.load(fh).get("allowed_per_trigger")
            return _parse_pos_int(v, "allowed_per_trigger")
        except (FileNotFoundError, ValueError, TypeError, json.JSONDecodeError):
            return self.allowed

    def partitions(self, start: dict, end: dict):
        # S4 (producer concurrency): split the admitted row range into
        # contiguous chunks — one task per chunk. Admission stays global
        # and exact (decided in latestOffset); only the *read* fans out.
        # The file list + per-file counts are SNAPSHOTTED here on the
        # driver and each partition keeps the files its range overlaps:
        # executors never re-list the directory, so a concurrently
        # pushed file that sorts before existing files (or an append)
        # can't shift row indices between planning and execution.
        return self._split(
            self._counts.snapshot(self.path), start["row"], end["row"]
        )

    def _split(self, snap: list[tuple[str, int]], lo: int, hi: int):
        if hi <= lo:
            return [_SpoolPartition(self.path, lo, hi, snap)]
        n = max(1, min(self.num_partitions, hi - lo))
        step = -(-(hi - lo) // n)
        return [
            _SpoolPartition(self.path, s, min(s + step, hi), snap)
            for s in range(lo, hi, step)
        ]

    def read(self, partition: _SpoolPartition):
        rows = self._read_rows(partition)
        if self._arrow_schema is None:
            yield from rows
            return
        import itertools

        import pyarrow as pa

        while True:
            # 32k-row Arrow chunks bound memory like the row path's
            # streaming yields while amortizing the IPC per chunk
            chunk = list(itertools.islice(rows, 32768))
            if not chunk:
                return
            cols = list(zip(*chunk))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(c, type=f.type)
                    for c, f in zip(cols, self._arrow_schema)
                ],
                schema=self._arrow_schema,
            )

    def _read_rows(self, partition: _SpoolPartition):
        idx = partition.first_row
        for fpath, n_planned in partition.files:
            taken = 0
            with open(fpath, "r", encoding="utf-8") as fh:
                for line in fh:
                    # cap at the PLANNED count: rows appended to this
                    # file after planning belong to a later batch
                    if taken >= n_planned or idx >= partition.end:
                        break
                    line = line.strip()
                    if not line:
                        continue
                    if idx >= partition.start:
                        rec = json.loads(line)
                        yield tuple(
                            c(rec.get(name)) if c and rec.get(name) is not None
                            else rec.get(name)
                            for name, c in zip(self.fields, self.coercers)
                        )
                    idx += 1
                    taken += 1

    def commit(self, end: dict) -> None:
        # Source-side ack: journal the committed offset (at-least-once;
        # replay after crash restarts from the checkpoint, and the
        # journal shows what the source has seen acknowledged). Spark
        # calls this at the start of the trigger AFTER the batch is
        # durably committed to the checkpoint — the journal lags one
        # trigger; the checkpoint commit log is the authoritative ack.
        with open(os.path.join(self.path, COMMIT_JOURNAL), "a") as fh:
            fh.write(json.dumps({"committed_row": end["row"]}) + "\n")
        # Keep admission monotone: never let a later latestOffset hand
        # out an end below what the engine has already committed.
        self._last_end = max(getattr(self, "_last_end", 0) or 0, end["row"])

    def stop(self) -> None:
        pass


class _SpoolBatchReader(DataSourceReader):
    """Batch read of the whole spool backlog: the at-rest complement
    of the streaming reader (reprocessing / backfill / audit reads of
    a queue directory without a checkpoint). Splits the row range
    into the same contiguous partitions as the streaming path — the
    read fans out identically; only admission (a streaming-only
    concern) is absent."""

    def __init__(self, schema: StructType, options: dict):
        self._stream = _SpoolStreamReader(schema, options)
        self.path = options["path"]

    def partitions(self):
        # One snapshot defines BOTH the total row count and the exact
        # file list every partition reads — planning and execution see
        # the same spool even if files land concurrently.
        snap = _snapshot_files(self.path)
        return self._stream._split(snap, 0, sum(n for _, n in snap))

    def read(self, partition: _SpoolPartition):
        return self._stream.read(partition)


class _SpoolSimpleStreamReader(SimpleDataSourceStreamReader):
    """Driver-side spool reader (``simple=true``) — the r10 verdict's
    floor investigation, measured:

    - partitioned reader floor (trivial source, 1000-row batches,
      warm): ~0.49-0.59 s/batch — latestOffset + partition-planning
      RPCs plus 4-task dispatch per micro-batch;
    - SimpleDataSourceStreamReader floor, same source: ~0.35-0.40
      s/batch — the read happens ON THE DRIVER during planning, so
      the executor task round disappears;
    - Arrow-batch emission from read() (kept, gated by ``arrow``):
      ≤10% at gate batch sizes — the floor is micro-batch MACHINERY,
      not row serialization (measured up to 200k rows/batch where
      JSON decode dominates both paths equally).

    The trade is explicit: the simple reader forfeits the S4
    producer-concurrency fan-out (one driver read, rows re-shipped to
    executors by the wrapper's cache) — right for LOW-VOLUME
    rate-limited admission drains (f2/f4-class contracts, thousands
    of rows/trigger), wrong for backlog replays at volume, which keep
    the partitioned path. Admission, discard journaling, rate-limit
    reload and the commit journal are the SAME code (composition over
    _SpoolStreamReader), so the two paths cannot drift."""

    def __init__(self, schema: StructType, options: dict):
        self._r = _SpoolStreamReader(schema, options)

    def initialOffset(self) -> dict:
        return self._r.initialOffset()

    def read(self, start: dict):
        end = self._r.latestOffset()
        return self.readBetweenOffsets(start, end), end

    def readBetweenOffsets(self, start: dict, end: dict):
        snap = self._r._counts.snapshot(self._r.path)
        part = _SpoolPartition(
            self._r.path, start["row"], end["row"], snap
        )
        # materialized, not a generator: pyspark's prefetch cache
        # copy.copy()s the iterator on replay, which a generator
        # cannot survive — and the admitted range is ≤ the per-trigger
        # allowance by contract, so driver memory is bounded anyway
        return iter(list(self._r._read_rows(part)))

    def commit(self, end: dict) -> None:
        self._r.commit(end)


class SpoolDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return SPOOL_FORMAT

    def schema(self) -> str:
        return self.options["schema_ddl"]

    def streamReader(self, schema: StructType) -> _SpoolStreamReader:
        if str(self.options.get("simple", "false")).lower() == "true":
            # raising the NOT_IMPLEMENTED class routes pyspark's
            # _streamReader fallback to simpleStreamReader()
            raise PySparkNotImplementedError(
                errorClass="NOT_IMPLEMENTED",
                messageParameters={"feature": "streamReader (simple=true)"},
            )
        return _SpoolStreamReader(schema, dict(self.options))

    def simpleStreamReader(self, schema: StructType) -> _SpoolSimpleStreamReader:
        return _SpoolSimpleStreamReader(schema, dict(self.options))

    def reader(self, schema: StructType) -> "_SpoolBatchReader":
        return _SpoolBatchReader(schema, dict(self.options))


def register_spool_source(spark: SparkSession) -> None:
    spark.dataSource.register(SpoolDataSource)


@dataclass
class SpoolSource:
    """Pipeline-facing handle (the ``source`` argument of Pipeline)."""

    name: str
    path: str
    schema_ddl: str
    ack_data_column: str
    allowed_per_trigger: int | None = None
    num_partitions: int = 4
    # F4 bounded buffer; None = the reference default (:infinity).
    # Overflow discards the oldest rows and journals the loss.
    max_backlog: int | None = None
    # Driver-side SimpleDataSourceStreamReader path — right for
    # low-volume rate-limited drains, measured ~0.15 s/batch under
    # the partitioned floor (see _SpoolSimpleStreamReader); keeps
    # identical admission/ack semantics.
    simple: bool = False

    def read_batch(self, spark: SparkSession) -> DataFrame:
        """Batch read of the current backlog (reprocessing/backfill
        path — no checkpoint, no admission)."""
        register_spool_source(spark)
        return (
            spark.read.format(SPOOL_FORMAT)
            .option("path", self.path)
            .option("schema_ddl", self.schema_ddl)
            .option("num_partitions", self.num_partitions)
            .load()
        )

    def read_stream(self, spark: SparkSession) -> DataFrame:
        register_spool_source(spark)
        reader = (
            spark.readStream.format(SPOOL_FORMAT)
            .option("path", self.path)
            .option("schema_ddl", self.schema_ddl)
            .option("num_partitions", self.num_partitions)
        )
        if self.allowed_per_trigger is not None:
            reader = reader.option("allowed_per_trigger", self.allowed_per_trigger)
        if self.max_backlog is not None:
            reader = reader.option("max_backlog", self.max_backlog)
        if self.simple:
            reader = reader.option("simple", "true")
        return reader.load()

    def discards(self) -> list[dict]:
        """The discard journal (format_discarded observability,
        broadway.ex:1083-1092): one entry per overflow discard."""
        out = []
        try:
            with open(os.path.join(self.path, DISCARD_JOURNAL)) as fh:
                for line in fh:
                    if line.strip():
                        out.append(json.loads(line))
        except FileNotFoundError:
            pass
        return out

    def update_rate_limiting(self, allowed_per_trigger: int | None) -> None:
        """F3: Broadway.update_rate_limiting/2 — change the admission
        cap at runtime; the reader re-reads it on the next trigger.
        None resets to unlimited. 0 (or any non-positive value) is
        rejected — the reference types allowed_messages as pos_integer
        (``options.ex``), so "no messages ever" must be an explicit
        config error, not a silent synonym for unlimited."""
        if allowed_per_trigger is not None:
            _parse_pos_int(allowed_per_trigger, "allowed_per_trigger")
        os.makedirs(self.path, exist_ok=True)
        # atomic rename: latestOffset re-reads this file every trigger,
        # and a torn read would fall back to the ORIGINAL constructor
        # rate — exactly wrong mid-update. Write-then-rename means a
        # racing trigger sees the old complete file or the new one.
        target = os.path.join(self.path, RATE_CONTROL_FILE)
        tmp = target + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"allowed_per_trigger": allowed_per_trigger}, fh)
        os.rename(tmp, target)

    def get_rate_limiting(self) -> int | None:
        """F3: Broadway.get_rate_limiting/1. Error handling matches the
        reader's ``_current_allowed`` exactly — a missing, torn, or
        invalid (non-integer / non-positive) control file reports the
        constructor rate, the same value the reader would admit at."""
        try:
            with open(os.path.join(self.path, RATE_CONTROL_FILE)) as fh:
                v = json.load(fh).get("allowed_per_trigger")
            return _parse_pos_int(v, "allowed_per_trigger")
        except (FileNotFoundError, ValueError, TypeError, json.JSONDecodeError):
            return self.allowed_per_trigger

    def push_messages(self, records: list[dict], filename: str) -> None:
        """Broadway.push_messages/2 — append out-of-band messages."""
        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(self.path, f"_tmp_{filename}")
        with open(tmp, "w", encoding="utf-8") as fh:
            for r in records:
                fh.write(json.dumps(r) + "\n")
        os.rename(tmp, os.path.join(self.path, filename))
