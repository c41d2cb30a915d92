#!/usr/bin/env python3
"""Writes the reference per-layer profile of one workload and seed.

    python3 perfbench/profile.py --workload <name> --seed <n> [--seconds 12]

It runs the workload twice with the same seed, untraced then traced,
and writes perfbench/profile/<workload>-seed<n>.json with:
  - the traced run's per-layer metrics;
  - self time per span name, summed over the traced run;
  - the end-to-end metrics of both runs, and the tracing overhead as
    traced minus untraced (absolute and as a share of untraced);
  - each operation kind's share of the untraced run's summed latency,
    which is how far a 2x slower kind would move ops_per_s.
"""
import argparse
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402


def run(args, trace, raw):
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                    "--workload", args.workload, "--seed", str(args.seed),
                    "--seconds", str(args.seconds), "--trace", str(trace),
                    "--raw", raw], check=True, stdout=subprocess.DEVNULL)
    with open(raw) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=12)
    args = ap.parse_args()
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(HERE, ".work")) as d:
        plain = run(args, 0, os.path.join(d, "plain.json"))
        traced = run(args, 1, os.path.join(d, "traced.json"))
    e0, info0 = metrics.end_to_end(plain)
    e1, info1 = metrics.end_to_end(traced)
    layer = metrics.per_layer(traced)
    out = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds,
        "per_layer": {k: {"value": v, "unit": metrics.unit_of(k)}
                      for k, v in layer.items() if v},
        "not_exercised": sorted(k for k, v in layer.items() if not v),
        "self_time_ms": dict(sorted(metrics.self_times(traced).items(),
                                    key=lambda kv: -kv[1])),
        "end_to_end": {"untraced": e0, "traced": e1,
                       "untraced_info": info0, "traced_info": info1},
        "tracing_overhead": {
            k: {"abs": e1[k] - e0[k],
                "share": (e1[k] - e0[k]) / e0[k] if e0[k] else None}
            for k in e0},
        "latency_share": metrics.latency_shares(plain),
        "spans": len(traced["spans"]), "jobs": len(traced["jobs"]),
    }
    os.makedirs(os.path.join(HERE, "profile"), exist_ok=True)
    path = os.path.join(HERE, "profile",
                        f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(path)


if __name__ == "__main__":
    main()
