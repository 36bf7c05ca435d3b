"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload serve --seeds 1-10 --seconds 8

For every metric it prints the median over the runs and the distance
between the first and third quartile as a share of the median
(``statistics.quantiles(values, n=4)``). Raw results are written to
``.perfbench_out/spread-<workload>-trace<t>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.stats import quartile_spread  # noqa: E402


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    root = os.path.dirname(HERE)
    runs = []
    for seed in seeds(args.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
               args.workload, "--seed", str(seed), "--seconds",
               str(args.seconds), "--trace", str(args.trace)]
        p = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}",
                  file=sys.stderr)
            return 1
        res = json.loads(p.stdout.strip().splitlines()[-1])
        runs.append({"seed": seed, **res})
        print(f"seed {seed}: correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']} "
              + " ".join(f"{k}={v['value']:.4g}"
                         for k, v in res["metrics"].items()), flush=True)
    out = os.path.join(root, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"spread-{args.workload}-trace"
                                f"{args.trace}.json"), "w") as f:
        json.dump(runs, f, indent=1)
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        spread = quartile_spread(vals) if len(vals) > 1 and med else 0.0
        print(f"{name:40s} median {med:12.6g}  spread {spread:7.2%}  "
              f"min {min(vals):.6g}  max {max(vals):.6g}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
