"""Measurement plumbing: process-tree CPU and memory from ``/proc``,
Spark status-store and streaming-progress snapshots, benchmark-side
spans, and host facts. Nothing here patches or edits library code; it
only reads what the OS and Spark already expose.
"""

from __future__ import annotations

import os
import platform
import subprocess
import threading
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# --- /proc process tree -------------------------------------------------


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may contain spaces; fields resume after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant (this process, the JVM it
    launched, and the Python workers under the JVM)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by the tree, including children that
    already exited and were reaped by a live member."""
    total = 0
    for pid in process_tree(root):
        f = _stat_fields(pid)
        if f is not None:
            total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / _TICK


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Background sampler of the tree's resident memory; ``peak`` is the
    largest sum seen since ``start``."""

    def __init__(self, root: int, period_s: float = 0.1) -> None:
        self.root = root
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(self.period_s)

    def start(self) -> "RssSampler":
        self.peak = tree_rss_bytes(self.root)
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        return self.peak


# --- Spark status store ----------------------------------------------------


class StatusStore:
    """Reads Spark's own application status store over py4j. Stage
    totals are final only after the listener bus drains, so every read
    waits for it first."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._jvm = spark.sparkContext._jvm
        self._gw = spark.sparkContext._gateway

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def snapshot(self) -> dict:
        """Highest job and stage ids seen so far (the baseline of a delta)."""
        self._drain()
        store = self._sc.statusStore()
        jobs = store.jobsList(self._jvm.java.util.ArrayList())
        stages = self._stage_list(store)
        return {
            "job": max((jobs.apply(i).jobId() for i in range(min(1, jobs.size()))), default=-1),
            "stage": max((stages.apply(i).stageId() for i in range(min(1, stages.size()))), default=-1),
        }

    def _stage_list(self, store):
        # the full five-argument form; py4j cannot use Scala defaults
        empty = self._jvm.java.util.ArrayList()
        no_q = self._gw.new_array(self._jvm.double, 0)
        return store.stageList(empty, False, False, no_q, self._jvm.java.util.ArrayList())

    def delta(self, base: dict) -> dict:
        """Totals over jobs and stages started after ``base``."""
        self._drain()
        store = self._sc.statusStore()
        jobs = store.jobsList(self._jvm.java.util.ArrayList())
        new_jobs = sum(1 for i in range(jobs.size()) if jobs.apply(i).jobId() > base["job"])
        stages = self._stage_list(store)
        out = {
            "jobs": new_jobs,
            "stages": 0,
            "tasks": 0,
            "executor_cpu_s": 0.0,
            "executor_run_s": 0.0,
            "gc_s": 0.0,
            "shuffle_write_bytes": 0,
            "spill_bytes": 0,
        }
        # newest first: stop at the baseline
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= base["stage"]:
                break
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["executor_run_s"] += s.executorRunTime() / 1e3
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return out


# --- spans -------------------------------------------------------------------


class Tracer:
    """Benchmark-side spans (name, start, end, parent, run id), kept in
    memory and written out once at the end. Disabled, ``span`` is a
    no-op context, so untraced runs pay nothing."""

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.events: list[dict] = []
        self._stack: list[int] = []
        self.cost_s = 0.0  # wall time spent inside tracing calls

    @contextmanager
    def cost(self):
        """Charge the enclosed tracing-only work to ``cost_s``."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.cost_s += time.perf_counter() - t

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        t = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.cost_s += time.perf_counter() - t
        try:
            yield attrs
        finally:
            t = time.perf_counter()
            self._stack.pop()
            rec["end"] = time.time()
            self.cost_s += time.perf_counter() - t

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> None:
        """A span measured elsewhere (e.g. a progress-event phase)."""
        if self.enabled:
            self.spans.append(
                {
                    "id": len(self.spans),
                    "name": name,
                    "parent": parent,
                    "run_id": self.run_id,
                    "start": start,
                    "end": end,
                    "attrs": attrs,
                }
            )

    def event(self, kind: str, payload: dict) -> None:
        if self.enabled:
            self.events.append({"kind": kind, "run_id": self.run_id, "t": time.time(), **payload})

    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part of each span's
        interval covered by its children."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur = hi
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({"type": "span", **s}) + "\n")
            for e in self.events:
                fh.write(json.dumps({"type": "event", **e}, default=str) + "\n")


# streaming progress phases → the layer that owns them
PHASE_LAYER = {
    "latestOffset": "sources",
    "getBatch": "sources",
    "queryPlanning": "plans",
    "addBatch": None,  # the router (stateless) or the stateful batcher
    "walCommit": "checkpoint",
    "commitOffsets": "checkpoint",
}
PHASE_ORDER = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def add_progress_spans(tracer: Tracer, progress: list[dict], parent: int | None, add_layer: str) -> None:
    """Lay each trigger's durationMs phases out as child spans, in the
    order the micro-batch protocol runs them, from the trigger start."""
    from datetime import datetime

    for p in progress:
        t = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        for phase in PHASE_ORDER:
            ms = p["durationMs"].get(phase)
            if ms:
                tracer.add(PHASE_LAYER[phase] or add_layer, t, t + ms / 1e3, parent, batch_id=p["batchId"], phase=phase)
                t += ms / 1e3


# --- host facts ---------------------------------------------------------------


def _version(cmd: list[str]) -> str:
    try:
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    text = (out.stdout + out.stderr).strip().splitlines()
    return text[0] if text else "unknown"


def source_digest(root: str) -> str:
    """Digest of the library's Python sources: identifies the code under
    test when the checkout carries no git metadata."""
    import hashlib

    h = hashlib.sha256()
    for d, _, names in sorted(os.walk(root)):
        for n in sorted(names):
            if n.endswith(".py"):
                path = os.path.join(d, n)
                h.update(path.encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def host_facts(seed: int, spark) -> dict:
    import pyspark

    if os.path.isdir(".git"):
        commit = _version(["git", "rev-parse", "HEAD"])
    else:
        commit = "src-sha256:" + source_digest("broadway_spark")
    return {
        "nproc": os.cpu_count(),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.runtime.version"),
        "python": platform.python_version(),
        "seed": seed,
        "commit": commit,
    }
