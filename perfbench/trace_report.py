"""Check the traced run against the untraced one.

    python3 perfbench/trace_report.py --workloads lookup corpus \\
        --out perfbench/evidence/trace.json

Per workload: one untraced and two traced runs (two seeds). Reports

- per query, traced build + plan + exec against its untraced warm wall
  time (the layers should add up to within about 10%);
- the tracing overhead: traced minus untraced ``warm_pass_s``;
- whether each count metric repeats exactly between the two traced runs.
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
WORK = os.path.join(ROOT, ".perfbench")


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, check=True,
    )
    with open(os.path.join(WORK, "runs", f"{workload}_s{seed}_t{trace}.json")) as fh:
        return json.load(fh)


def warm_query_walls(res: dict) -> dict[str, float]:
    warm = [res["detail"]["queries"][k] for k in res["detail"]["timed_warm"]]
    return {q: statistics.median(p[q] for p in warm) for q in warm[0]}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", type=int, nargs=2, default=(101, 102))
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    counts = [m["name"] for m in bench["per_layer"] if m["unit"] == "count"]
    report = {}
    for w in args.workloads:
        s1, s2 = args.seeds
        plain = run(w, s1, bench["run_seconds"], 0)
        traced = [run(w, s, bench["run_seconds"], 1) for s in (s1, s2)]
        walls = warm_query_walls(plain)
        layers = traced[0]["detail"]["per_query_trace"]
        per_query = {}
        for q, t in sorted(layers.items()):
            total = t["build_s"] + t["plan_s"] + t["exec_s"]
            per_query[q] = {
                **{k: round(v, 4) for k, v in t.items()},
                "traced_sum_s": round(total, 4),
                "untraced_wall_s": round(walls[q], 4),
                "ratio": round(total / walls[q], 3),
            }
        m1, m2 = (t["metrics"] for t in traced)
        report[w] = {
            "correct": [plain["correct"]] + [t["correct"] for t in traced],
            "untraced_warm_pass_s": plain["metrics"]["warm_pass_s"]["value"],
            "traced_warm_pass_s": m1["trace.warm_pass_s"]["value"],
            "tracing_overhead_s": m1["trace.warm_pass_s"]["value"]
            - plain["metrics"]["warm_pass_s"]["value"],
            "sum_ratio": round(
                sum(v["traced_sum_s"] for v in per_query.values())
                / sum(v["untraced_wall_s"] for v in per_query.values()), 3
            ),
            "per_query": per_query,
            "counts": {
                k: [m1[k]["value"], m2[k]["value"]] for k in counts
            },
            "counts_repeat": [k for k in counts if m1[k]["value"] == m2[k]["value"]],
            "counts_differ": [k for k in counts if m1[k]["value"] != m2[k]["value"]],
        }
        print(w, {k: v for k, v in report[w].items() if k not in ("per_query", "counts")},
              flush=True)
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(report, fh, indent=1)


if __name__ == "__main__":
    main()
