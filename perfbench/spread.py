"""Run one workload over several seeds and report each end-to-end
metric's median and quartile spread, the way the benchmark's bounds are
checked: (Q3 - Q1) / median, with ``statistics.quantiles(values, n=4)``.

    python3 perfbench/spread.py --workload trickle_native --seeds 1 2 3 4 5

Seeds run one after another; the summary is written under
``perfbench/_results/spread/`` and printed as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--tag", default="")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    runs = []
    for seed in args.seeds:
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
        res = json.loads(last)
        res.update(seed=seed, rc=proc.returncode, wall_s=time.time() - t0)
        runs.append(res)
        print(json.dumps(res), flush=True)
    summary = {"workload": args.workload, "seeds": args.seeds, "runs": runs,
               "wall_s_median": statistics.median(r["wall_s"] for r in runs),
               "metrics": {}}
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs if "metrics" in r]
        q1, q2, q3 = statistics.quantiles(vals, n=4)
        med = statistics.median(vals)
        summary["metrics"][m["name"]] = {
            "median": med, "spread": (q3 - q1) / med, "bound": m["bound"],
            "values": vals}
    out_dir = os.path.join(HERE, "_results", "spread")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-{args.tag or int(time.time())}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(summary, f, indent=1)
    print(json.dumps({k: {"median": round(v["median"], 4), "spread": round(v["spread"], 4),
                          "bound": v["bound"]} for k, v in summary["metrics"].items()}))
    print("wall_s_median", round(summary["wall_s_median"], 1))
    return 0 if all(r.get("rc") == 0 for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
