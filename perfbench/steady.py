"""Run the benchmark on several seeds and report each end-to-end metric's
median and quartile spread ((q3 - q1) / median, the statistic the bound in
BENCHMARK.json is checked against).

    python3 perfbench/steady.py --workload corpus_dedup --seeds 1 2 3 4 5

Runs one seed at a time from the checkout root; prints one JSON line per
run and a summary per metric.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    values: dict[str, list[float]] = {}
    walls = []
    for seed in args.seeds:
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        t0 = time.time()
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=400)
        walls.append(time.time() - t0)
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-3000:]}", file=sys.stderr)
            return 1
        res = json.loads(out.stdout.strip().splitlines()[-1])
        print(json.dumps({"seed": seed, "wall_s": round(walls[-1], 1), **res}), flush=True)
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for name, vals in values.items():
        med = statistics.median(vals)
        spread = float("nan")
        if len(vals) >= 2:
            q1, _, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
        print(f"{name}: median {med:.6g} spread {spread:.3f} bound {bounds.get(name)}")
    print(f"wall: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
