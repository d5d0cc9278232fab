"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload lookup --seed 1 --seconds 10 --trace 0

Run from the repository root. Steps, each in its own process:

1. ``fixture.py`` copies or derives the workload's inputs from the
   committed sf0.1 tables, materializes the DuckDB oracle results once
   per fixture, and clears the at-rest artifacts earlier runs left;
2. ``measure.py`` runs the measured session (see its docstring) while
   this process samples the resident memory of it and its JVM tree.

The last line of stdout is one JSON object: ``correct``, ``attempted``
and ``failed`` (query runs, and those that raised or failed their
output check) and ``metrics``: the end-to-end metrics with ``--trace
0``, the per-layer metrics with ``--trace 1``. Fixtures, oracle
results, logs and per-run details stay under ``.perfbench/`` in the
repository root. Exits non-zero, printing no result, when the program
is missing or a step fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
# a run must end within 180 s; keep a margin for stopping the JVM tree
DEADLINE_S = 170.0
# the first run in a checkout also builds every fixture and oracle
FIRST_DEADLINE_S = 840.0

sys.path.insert(0, HERE)

import measure  # noqa: E402
import workloads  # noqa: E402


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _pss_bytes(pid: int) -> int:
    """Proportional resident bytes: pages shared by the forked Python
    workers are split between them instead of counted once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_rss(root_pid: int) -> int:
    """Resident bytes of a process and all its descendants."""
    kids = _children()
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += _pss_bytes(pid)
        todo += kids.get(pid, [])
    return total


class RssSampler(threading.Thread):
    """High-water resident memory of a process tree, sampled from /proc."""

    def __init__(self, pid: int, period_s: float = 0.25):
        super().__init__(daemon=True)
        self.pid, self.period_s = pid, period_s
        self.peak = 0
        self.stop_evt = threading.Event()

    def run(self) -> None:
        while not self.stop_evt.is_set():
            self.peak = max(self.peak, tree_rss(self.pid))
            self.stop_evt.wait(self.period_s)


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill what is left of a step's process group (the JVM and its
    Python workers) and wait until every member has exited."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        alive = False
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    alive = alive or os.getpgid(int(d)) == proc.pid
                except ProcessLookupError:
                    pass
        if not alive:
            return
        time.sleep(0.1)


def _measure(cmd: list[str], env: dict, timeout_s: float) -> int:
    """Run the measured process in its own process group and return the
    peak memory of its tree; its output goes to stderr so the result
    stays the last line of stdout."""
    proc = subprocess.Popen(
        cmd, cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True
    )
    sampler = RssSampler(proc.pid)
    sampler.start()
    try:
        code = proc.wait(timeout=max(timeout_s, 1.0))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        sampler.stop_evt.set()
        sampler.join()
        _stop_group(proc)
    if code != 0:
        raise SystemExit(
            "perfbench: measure.py "
            + ("timed out" if code is None else f"exited with {code}")
        )
    return sampler.peak


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t0 = time.monotonic()
    if not os.path.isdir(os.path.join(ROOT, "lookup_transform_spark")):
        raise SystemExit(
            f"perfbench: no lookup_transform_spark package under {ROOT}; "
            "run from a checkout of the repository"
        )
    spec = workloads.WORKLOADS[args.workload]
    first = not os.path.isdir(os.path.join(WORK, "fixtures"))
    deadline = FIRST_DEADLINE_S if first else DEADLINE_S
    # scratch of earlier runs (Spark local dirs, event logs) is dropped
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "eventlog")):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "local"))
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    env = dict(os.environ)
    env.update({
        # the cores this process may run on, as nproc counts them
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "local"),
        "TMPDIR": tmp,
        # every JVM (Spark's launcher and the one running Spark) keeps its
        # temp files in the checkout and writes no perf-counter file
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYTHONPATH": ROOT,
    })
    env.pop("SPARK_GRAFT_SHUFFLE", None)
    env.update(spec.env)

    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "fixture.py"), "--work", WORK,
         "--workload", args.workload, "--seed", str(args.seed)],
        cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True,
        timeout=deadline - (time.monotonic() - t0),
    )
    if out.returncode != 0:
        raise SystemExit(f"perfbench: fixture.py exited with {out.returncode}")
    prepared = json.loads(out.stdout.strip().splitlines()[-1])

    result_path = os.path.join(
        WORK, "runs", f"{args.workload}_s{args.seed}_t{args.trace}.json"
    )
    if os.path.exists(result_path):
        os.remove(result_path)
    peak = _measure(
        [sys.executable, os.path.join(HERE, "measure.py"),
         "--workload", args.workload, "--seed", str(args.seed),
         "--seconds", str(args.seconds), "--trace", str(args.trace),
         "--fixture", prepared["fixture"], "--oracles", prepared["oracles"],
         "--work", WORK, "--result", result_path],
        env, deadline - (time.monotonic() - t0),
    )
    with open(result_path) as fh:
        result = json.load(fh)
    result["detail"]["peak_rss_mb"] = peak / 2**20
    result["detail"]["prepare_s"] = prepared["prepare_s"]
    result["detail"]["run_s"] = time.monotonic() - t0
    with open(result_path, "w") as fh:
        json.dump(result, fh, indent=1, default=str)
    if args.trace:
        result["metrics"][measure.PEAK_RSS] = {"value": peak / 2**20, "unit": "MB"}
    line = {k: result[k] for k in ("correct", "attempted", "failed", "metrics")}
    print(json.dumps(line, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()
