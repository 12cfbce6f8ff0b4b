"""Traced-run artifact: per-layer self times and tracing overhead.

    python3 perfbench/report.py [--seed 7]

For each workload this runs ``run.py`` twice with the same seed, once
untraced and once traced, and writes
``perfbench/artifacts/trace-<rev>-cpus<n>.json`` with:

- the traced run's per-layer metrics and self time per layer (a span's
  duration minus what its child spans cover, summed by layer);
- the tracing overhead: each end-to-end metric of the traced run
  relative to the untraced one;
- both runs' provenance.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("backfill_native", "trickle_native")


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise SystemExit(f"{workload} trace={trace} failed:\n{proc.stderr[-2000:]}")
    rdir = os.path.join(HERE, "_results", workload)
    newest = max((os.path.join(rdir, n) for n in os.listdir(rdir)
                  if n.endswith(f"-seed{seed}-s{seconds:g}-trace{trace}.json")),
                 key=os.path.getmtime)
    with open(newest) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    out: dict = {"seed": args.seed, "run_seconds": seconds, "workloads": {}}
    for w in WORKLOADS:
        plain = run(w, args.seed, seconds, 0)
        traced = run(w, args.seed, seconds, 1)
        out["workloads"][w] = {
            "self_time_s": traced["self_time_s"],
            "per_layer": traced["layers"],
            "e2e_untraced": plain["e2e"],
            "e2e_traced": traced["e2e"],
            "tracing_overhead": {
                k: (traced["e2e"][k] - v) / v for k, v in plain["e2e"].items() if v},
            "provenance": {"untraced": plain["provenance"],
                           "traced": traced["provenance"]},
        }
        print(w, json.dumps(out["workloads"][w]["tracing_overhead"]), flush=True)
    prov = out["workloads"][WORKLOADS[0]]["provenance"]["traced"]
    rev = prov["git_rev"] or "src-" + prov["src_hash"]
    os.makedirs(os.path.join(HERE, "artifacts"), exist_ok=True)
    path = os.path.join(HERE, "artifacts",
                        f"trace-{rev}-cpus{prov['spark_cpus']}of{prov['host_cpus']}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print("wrote", os.path.relpath(path, ROOT))
    return 0


if __name__ == "__main__":
    sys.exit(main())
