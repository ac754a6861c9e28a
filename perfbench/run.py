"""Pipeline benchmark for broadway_spark.

    python3 perfbench/run.py --workload {live_ingest,backlog_drain,corpus_curation}
                             --seed N --seconds S --trace {0,1}

Run from the repository root. Inputs are generated from ``--seed``; the
library is driven only through its public entry points. The last line
of standard output is one JSON object ``{correct, attempted, failed,
metrics}``: end-to-end metrics with ``--trace 0``, per-layer metrics
(plus span self times and tracing overhead) with ``--trace 1``. Earlier
lines give host facts, sample counts, open-loop validity, the wall time
of each phase and the unbounded wall-clock figures. All
scratch files live under ``.perfbench_work/`` in the current directory.
See ``perfbench/README.md`` for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

WORKLOADS = ("live_ingest", "backlog_drain", "corpus_curation")
MAX_WINDOWS = 2  # open-loop windows tried before a run gives up


def process_start_epoch() -> float:
    """When this process started, from /proc (before any import ran)."""
    with open("/proc/self/stat") as fh:
        raw = fh.read()
    start_ticks = int(raw[raw.rindex(")") + 2 :].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_environment(root: str, work: str) -> None:
    """Point every scratch path Spark and Python use into ``work`` and
    pin local mode to the core count."""
    nproc = len(os.sched_getaffinity(0))
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    # Python workers import the library and this package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, root)


def measure_valid(wl) -> dict:
    """Measure, retrying an open-loop window that fell behind or let the
    backlog grow: such a window is not a sample."""
    from perfbench.workloads import InvalidWindow

    for attempt in range(MAX_WINDOWS):
        try:
            return wl.measure()
        except InvalidWindow as exc:
            print(f"invalid window {attempt + 1}: {exc}", file=sys.stderr)
    raise SystemExit(f"perfbench: no valid window in {MAX_WINDOWS} tries")


def main(argv: list[str]) -> int:
    t_proc = process_start_epoch()
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "broadway_spark", "__init__.py")):
        print("perfbench: run from a checkout that holds broadway_spark/", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_environment(root, work)

    from perfbench import probe, workloads

    pid = os.getpid()
    load1_before = os.getloadavg()[0]
    spark = workloads.start_session()
    phases = {"session_wall_s": time.time() - t_proc, "session_cpu_s": probe.tree_cpu_s(pid)}
    facts = {"load1": load1_before, **probe.host_facts(args.seed, spark)}
    tracer = probe.Tracer(False, f"{args.workload}-{args.seed}")
    wl = workloads.make(args.workload, spark, args.seed, args.seconds, tracer, bool(args.trace))
    try:
        t = time.time()
        wl.stage(work)
        phases["stage_wall_s"] = time.time() - t
        t = time.time()
        wl.warm_up()
        phases["warm_wall_s"] = time.time() - t
        # set-up is charged in CPU seconds of the whole process tree
        # since this process started: wall time here mostly tracks the
        # host's free CPU while the JVM launches
        setup_s = probe.tree_cpu_s(pid)
        phases["setup_wall_s"] = time.time() - t_proc

        tracer.enabled = bool(args.trace)
        result = measure_valid(wl)
        phases["measure_wall_s"] = result["unit_s"]
        if args.trace:
            metrics = wl.layer_metrics(result, tracer.self_times())
            metrics["trace.overhead_s"] = tracer.cost_s
            tracer.dump(os.path.join(root, ".perfbench_work", f"trace-{args.workload}-{args.seed}.jsonl"))
        else:
            metrics = {"cpu_s": result["cpu_s"], "setup_s": setup_s}
        wall = workloads.wall_metrics(result)
        t = time.time()
        attempted, failed, notes = wl.check()
        phases["check_wall_s"] = time.time() - t
    finally:
        wl.close()
        workloads.stop_session(spark)
        facts["load1_after"] = os.getloadavg()[0]
        shutil.rmtree(work, ignore_errors=True)

    for note in notes:
        print(f"check: {note}")
    print("host: " + json.dumps(facts))
    print("details: " + json.dumps(wl.details, default=str))
    print("phases: " + " ".join(f"{k}={v:.3f}" for k, v in phases.items()))
    print("wall: " + " ".join(f"{k}={v:.4f}" for k, v in wall.items()))
    print(f"failed_share: {failed / max(1, attempted):.6f} ({failed} of {attempted})")
    out = {
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            k: {"value": float(v), "unit": workloads.unit_of(k)}
            for k, v in metrics.items()
        },
    }
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
