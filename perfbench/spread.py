"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload serve --seeds 1-10

Runs the benchmark once per seed (untraced, ``run_seconds`` from
BENCHMARK.json) and prints, per metric, the median, the quartile spread
(Q3 - Q1, from ``statistics.quantiles(values, n=4)``) as a share of the
median, and the metric's bound. A spread at or above a third of its
bound is flagged ``WIDE``. Per-run values are appended as JSON lines to
``.perfbench_work/spread.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {m: [] for m in bounds}
    log = os.path.join(ROOT, ".perfbench_work", "spread.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    for seed in seeds(args.seeds):
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        lines = out.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines else {}
        if out.returncode != 0 or not result.get("correct"):
            print(f"seed {seed}: exit {out.returncode}", out.stderr[-2000:], file=sys.stderr)
            return 1
        with open(log, "a") as fh:
            fh.write(json.dumps({"workload": args.workload, "seed": seed, **result}) + "\n")
        for m in values:
            values[m].append(result["metrics"][m]["value"])
        print(f"seed {seed}: " + " ".join(f"{m}={v[-1]:.4g}" for m, v in values.items()), flush=True)
    for m, v in values.items():
        s = spread(v) if len(v) >= 2 else 0.0
        flag = "WIDE" if s >= bounds[m] / 3 else "ok"
        print(f"{m:24s} median {statistics.median(v):12.5g}  spread {s:7.4f}  bound {bounds[m]}  {flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
