"""Benchmark entry point.

    python3 perfbench/run.py --workload {migrate,serve,batch} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout of the repository. With ``--trace 0``
the last line of standard output is the end-to-end result; with
``--trace 1`` it holds the per-layer metrics of a traced run. A record
with machine context (and, when traced, every span) is written under
``.perfbench_work/records/``. Exits non-zero when an output check fails
or the engine package is not present.
"""

from __future__ import annotations

import argparse
import importlib
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("migrate", "serve", "batch")


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "vector_io_spark", "__init__.py")):
        print(f"vector_io_spark/ not found under {ROOT}: run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import harness

    workload = importlib.import_module(f"wl_{args.workload}")
    return harness.run(workload, args.seed, args.seconds, bool(args.trace), ROOT)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
