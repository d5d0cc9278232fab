"""Run-to-run spread of the benchmark's end-to-end metrics.

    python3 perfbench/steadiness.py --workloads lookup corpus \\
        --seeds 10 --out perfbench/evidence/aa1.json

Runs ``run.py`` once per (workload, seed), one run at a time, and
records for each end-to-end metric its values, median, quartiles and
the interquartile range as a share of the median, the spread measure
the benchmark's bounds are checked against.
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


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {
        "values": values,
        "median": statistics.median(values),
        "q1": q1,
        "q3": q3,
        "iqr_share": (q3 - q1) / statistics.median(values),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report: dict = {"run_seconds": bench["run_seconds"], "workloads": {}}
    for w in args.workloads:
        runs, values = [], {}
        for seed in range(args.first_seed, args.first_seed + args.seeds):
            t0 = time.monotonic()
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                 "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                text=True, check=True,
            )
            res = json.loads(out.stdout.strip().splitlines()[-1])
            wall = time.monotonic() - t0
            runs.append({"seed": seed, "wall_s": wall, "correct": res["correct"],
                         "attempted": res["attempted"], "failed": res["failed"],
                         "loadavg": os.getloadavg()[0]})
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(w, seed, f"{wall:.1f}s",
                  {k: round(v["value"], 3) for k, v in res["metrics"].items()},
                  flush=True)
        metrics = {k: spread(v) for k, v in values.items()}
        for k, m in metrics.items():
            m["bound"] = bounds[k]
            m["within_third_of_bound"] = m["iqr_share"] < bounds[k] / 3
        report["workloads"][w] = {"runs": runs, "metrics": metrics}
        for k, m in metrics.items():
            print(f"  {w} {k}: median {m['median']:.3f} "
                  f"iqr/median {m['iqr_share']:.3f} (bound {m['bound']})")
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(report, fh, indent=1)


if __name__ == "__main__":
    main()
