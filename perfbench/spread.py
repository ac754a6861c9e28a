"""Run the benchmark on several seeds and report, per end-to-end
metric, the median and the quartile spread (Q3 - Q1) / median.

    python3 perfbench/spread.py --workload live_ingest --seeds 1-10
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys


def spread(values: list[float]) -> tuple[float, float]:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--seconds", type=int)
    args = ap.parse_args(argv)
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    lo, hi = (int(x) for x in args.seeds.split("-"))
    runs = []
    for seed in range(lo, hi + 1):
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", "0"]
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}", file=sys.stderr)
            continue
        lines = out.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        # unbounded wall-clock figures and phase times, printed as
        # "wall: k=v ..." and "phases: k=v ..."
        for line in lines:
            tag, _, rest = line.partition(": ")
            if tag in ("wall", "phases"):
                for kv in rest.split():
                    k, v = kv.split("=")
                    res["metrics"][f"{tag}.{k}"] = {"value": float(v)}
        runs.append(res)
        print(f"seed {seed}: correct={res['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    names = [(m["name"], m["bound"]) for m in bench["end_to_end"]]
    names += [(k, None) for k in (runs[0]["metrics"] if runs else {}) if k.startswith(("wall.", "phases."))]
    for name, bound in names:
        vals = [r["metrics"][name]["value"] for r in runs]
        if len(vals) >= 2:
            med, sp = spread(vals)
            print(f"{args.workload} {name}: median {med:.4g} spread {sp:.3f} bound {bound}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
