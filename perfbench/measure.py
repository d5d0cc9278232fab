"""The measured process of one benchmark run.

Started fresh by ``run.py`` for every run, with the fixture and its
oracle results already prepared by another process. One client runs
one query at a time in a closed loop on a ``local[nproc]`` session:

1. set-up: import, ``session.get_spark``, ingest-time statistics
   (``stats.register_stats_tables`` + ``stats.enable_cbo``);
2. cold pass: every query once in the fresh session, its rows
   collected with ``toArrow()`` and, outside the timed window, compared
   with its cached DuckDB oracle result;
3. warm passes: at least ``TIMED_WARM_PASSES`` + 1, and more while
   ``--seconds`` have not passed since the first; ``warm_pass_s`` is
   the median of the last ``TIMED_WARM_PASSES`` (the earlier ones warm
   the JIT, which keeps pass times falling for several passes);
4. ``EXTRA_SETUPS`` more set-ups: the session is stopped and built
   again, statistics included; ``setup_s`` is the median of all the
   run's set-ups.

In warm passes each query is built through the registry and executed
with the noop sink. The seed orders the queries of each pass. With
``--trace 1`` the same protocol runs with an event log, a job group per
query phase and a streaming listener, and the per-layer metrics of the
timed warm passes are reported instead of the end-to-end ones.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from datetime import datetime  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import eventlog  # noqa: E402
import workloads  # noqa: E402

# per-layer metrics of the traced run, with their units; per-query
# q.<name>.build_s / q.<name>.exec_s follow for every benchmarked query
LAYER_METRICS = {
    "session.get_spark_s": "s",
    "stats.register_s": "s",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "registry.build_task_run_s": "s",
    "catalyst.plan_s": "s",
    "exec.wall_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.python_bytes": "bytes",
    "streaming.triggers": "count",
    "streaming.first_trigger_planning_s": "s",
    "streaming.planning_s": "s",
    "streaming.get_batch_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes",
    "sources.sink_bytes": "bytes",
    "trace.warm_pass_s": "s",
}
EXEC_SUMS = (
    "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "python_bytes",
)


TIMED_WARM_PASSES = 3
EXTRA_SETUPS = 2

# sampled from /proc by run.py, which adds it to the traced run's metrics
PEAK_RSS = "mem.peak_rss_mb"


def per_layer_units() -> dict[str, str]:
    units = {**LAYER_METRICS, PEAK_RSS: "MB"}
    for w in workloads.WORKLOADS.values():
        for q in w.queries:
            units[f"q.{q}.build_s"] = "s"
            units[f"q.{q}.exec_s"] = "s"
    return units


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.2f}s] {msg}",
          file=sys.stderr, flush=True)


def compare(con, got, oracle_path: str) -> tuple[bool, str | None]:
    """Multiset equality of a query's rows with its oracle's, columns
    matched by name: the rule of ``parity.compare``, evaluated inside
    DuckDB because collecting 10^5-10^6 rows as Python tuples would cost
    more than the pass being measured. Equal row counts plus an empty
    one-sided ``EXCEPT ALL`` imply equal multisets."""
    src = f"read_parquet('{oracle_path}')"
    want = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()]
    if sorted(got.column_names) != sorted(want):
        return False, f"columns {sorted(got.column_names)} vs {sorted(want)}"
    n_want = con.execute(f"SELECT count(*) FROM {src}").fetchone()[0]
    if got.num_rows != n_want:
        return False, f"row count {got.num_rows} vs {n_want}"
    cols = ", ".join(f'"{c}"' for c in sorted(want))
    con.register("got", got)
    try:
        extra = con.execute(
            f"SELECT count(*) FROM (SELECT {cols} FROM got "
            f"EXCEPT ALL SELECT {cols} FROM {src})"
        ).fetchone()[0]
    finally:
        con.unregister("got")
    return extra == 0, None if extra == 0 else f"{extra} rows differ"


class Run:
    """State of one measured run: the session, the workload, the
    records of every pass."""

    def __init__(self, args, spec):
        self.args = args
        self.spec = spec
        self.fixture = args.fixture
        self.rng = random.Random(args.seed)
        self.trace = bool(args.trace)
        self.attempted = 0
        self.failures: list[dict] = []
        self.passes: list[dict] = []

    # -- set-up --------------------------------------------------------
    def setup(self) -> None:
        from lookup_transform_spark import registry

        self.registry = registry
        confs = {}
        if self.trace:
            self.event_dir = os.path.join(self.args.work, "eventlog")
            os.makedirs(self.event_dir, exist_ok=True)
            confs.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                # task accumulators repeat the task metrics; not read here
                "spark.eventLog.includeTaskMetricsAccumulators": "false",
            })
        self.confs = confs
        t1, t2 = self._session()
        self.setups = [t2 - T_START]
        self.layers_setup = {
            "session.get_spark_s": t1 - self._t0,
            "stats.register_s": t2 - t1,
        }
        self.vtag = registry._vtag(self.fixture)
        if self.trace:
            self.listener = _stream_listener()
            self.spark.streams.addListener(self.listener)

    def _session(self) -> tuple[float, float]:
        from lookup_transform_spark import stats
        from lookup_transform_spark.session import get_spark

        self._t0 = time.perf_counter()
        self.spark = get_spark(
            f"perfbench-{self.args.workload}", extra_confs=self.confs
        )
        t1 = time.perf_counter()
        stats.register_stats_tables(self.spark, self.fixture)
        stats.enable_cbo(self.spark, application_side_threshold="10MB")
        return t1, time.perf_counter()

    def setup_again(self) -> None:
        """Stop the session and set it up again in this process: the
        session build and the statistics pass of the first set-up,
        without its process start and JVM launch."""
        self.spark.stop()
        _, t2 = self._session()
        self.setups.append(t2 - self._t0)

    def order(self) -> list[str]:
        qs = list(self.spec.queries)
        self.rng.shuffle(qs)
        return qs

    def fail(self, stage: str, q: str, err: str) -> None:
        self.failures.append({"pass": stage, "query": q, "error": err[-600:]})
        log(f"FAILED {stage} {q}: {err[-300:]}")

    # -- passes --------------------------------------------------------
    def timed_pass(self, label: str, con=None) -> dict:
        """One pass over the workload's queries, each built through the
        registry and executed with the noop sink. With a DuckDB
        connection ``con`` the rows are collected instead, and compared
        with the query's oracle result after its timed window."""
        sc = self.spark.sparkContext
        recs = []
        start_ms = time.time() * 1000
        for q in self.order():
            self.attempted += 1
            try:
                if self.trace:
                    sc.setJobGroup(f"{label}|{q}|build", q)
                t0 = time.perf_counter()
                df = self.registry.QUERIES[q](self.spark, self.fixture)
                t1 = time.perf_counter()
                if self.trace:
                    sc.setJobGroup(f"{label}|{q}|exec", q)
                exec_start_ms = time.time() * 1000
                if con is None:
                    df.write.format("noop").mode("overwrite").save()
                else:
                    got = df.toArrow()
                t2 = time.perf_counter()
            except Exception:  # noqa: BLE001 — counted and reported
                self.fail(label, q, traceback.format_exc())
                continue
            finally:
                if self.trace:
                    sc.setLocalProperty("spark.jobGroup.id", None)
            recs.append({
                "query": q, "build_s": t1 - t0, "write_s": t2 - t1,
                "wall_s": t2 - t0, "exec_start_ms": exec_start_ms,
            })
            if con is not None:
                self.check(con, q, got)
        p = {
            "label": label,
            "pass_s": sum(r["wall_s"] for r in recs),
            "queries": recs,
            "start_ms": start_ms,
        }
        if self.trace:
            self._drain_listener()
            p["end_ms"] = time.time() * 1000
            p["sink_bytes"] = self._sink_bytes()
        self.passes.append(p)
        log(f"{label}: {p['pass_s']:.3f} s")
        return p

    def check(self, con, q: str, got) -> None:
        try:
            ok, detail = compare(
                con, got, os.path.join(self.args.oracles, f"{q}.parquet")
            )
        except Exception:  # noqa: BLE001 — counted and reported
            ok, detail = False, traceback.format_exc()
        self.checks[q] = {"ok": ok, "detail": detail}
        if not ok:
            self.fail("check", q, str(detail))

    def cold_pass(self) -> dict:
        """The first pass of the fresh session collects every query's
        rows and checks them against the cached oracle results."""
        import duckdb

        con = duckdb.connect()
        self.checks: dict[str, dict] = {}
        try:
            p = self.timed_pass("cold", con)
        finally:
            con.close()
        log(f"check: {sum(c['ok'] for c in self.checks.values())}/{len(self.checks)} ok")
        return p

    def record_regime(self) -> None:
        from lookup_transform_spark import scale_profile

        conf = self.spark.conf
        self.regime = {
            "profile": scale_profile.profile_for(self.fixture),
            "fixture_bytes": scale_profile.fixture_bytes(self.fixture),
            "small_input_max_bytes": scale_profile.SMALL_INPUT_MAX_BYTES,
            "adaptive": conf.get("spark.sql.adaptive.enabled"),
            "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
        }
        if self.regime["profile"] != self.spec.profile:
            self.fail("regime", "-", f"expected the {self.spec.profile!r} "
                      f"profile, got {self.regime}")

    def teardown(self) -> None:
        for s in self.spark.streams.active:
            s.stop()
        self.app_id = self.spark.sparkContext.applicationId
        self.spark.stop()

    # -- tracing -------------------------------------------------------
    def _drain_listener(self, quiet_s: float = 0.3, limit_s: float = 5.0) -> None:
        """Progress events reach Python asynchronously; wait until none
        has arrived for ``quiet_s`` so each pass's triggers land in it."""
        deadline = time.perf_counter() + limit_s
        seen = -1
        while time.perf_counter() < deadline:
            n = len(self.listener.progress)
            if n == seen:
                return
            seen = n
            time.sleep(quiet_s)

    def _sink_bytes(self) -> int:
        total = 0
        for d in glob.glob(os.path.join(self.registry.SCRATCH, f"*{self.vtag}*")):
            for root, _dirs, files in os.walk(d):
                for f in files:
                    try:
                        total += os.path.getsize(os.path.join(root, f))
                    except OSError:
                        pass
        return total

    def layer_metrics(self, warm: list[dict]) -> dict[str, float]:
        groups = eventlog.reduce_groups(
            eventlog.log_files(self.event_dir, self.app_id)
        )
        empty = eventlog.new_totals()
        rows = []
        per_query: dict[str, list[tuple[float, float, float]]] = {}
        for p in warm:
            row = dict.fromkeys(LAYER_METRICS, 0.0)
            for r in p["queries"]:
                q = r["query"]
                b = groups.get(f"{p['label']}|{q}|build", empty)
                e = groups.get(f"{p['label']}|{q}|exec", empty)
                if e["first_job_ms"] is None:
                    plan = r["write_s"]
                else:
                    plan = (e["first_job_ms"] - r["exec_start_ms"]) / 1e3
                    plan = min(max(plan, 0.0), r["write_s"])
                per_query.setdefault(q, []).append(
                    (r["build_s"], plan, r["write_s"] - plan)
                )
                row["registry.build_s"] += r["build_s"]
                row["registry.build_jobs"] += b["jobs"]
                row["registry.build_task_run_s"] += b["task_run_s"]
                row["catalyst.plan_s"] += plan
                row["exec.wall_s"] += r["write_s"] - plan
                row["exec.jobs"] += e["jobs"]
                for k in EXEC_SUMS:
                    row[f"exec.{k}"] += e[k]
            row.update(self._streaming(p))
            row["sources.sink_bytes"] = p["sink_bytes"]
            row["trace.warm_pass_s"] = p["pass_s"]
            rows.append(row)
        out = {k: statistics.median(r[k] for r in rows) for k in LAYER_METRICS}
        out.update(self.layers_setup)
        for name in per_layer_units():
            if name.startswith("q."):
                out[name] = 0.0
        self.per_query_trace = {}
        for q, vals in per_query.items():
            build, plan, exe = (statistics.median(v[i] for v in vals) for i in range(3))
            out[f"q.{q}.build_s"] = build
            out[f"q.{q}.exec_s"] = exe
            self.per_query_trace[q] = {"build_s": build, "plan_s": plan, "exec_s": exe}
        return out

    def _streaming(self, p: dict) -> dict[str, float]:
        lo, hi = p["start_ms"], p["end_ms"]
        runs: dict[str, list] = {}
        for rec in self.listener.progress:
            if lo <= rec["ts_ms"] <= hi:
                runs.setdefault(rec["run"], []).append(rec)
        out = dict.fromkeys(
            [k for k in LAYER_METRICS if k.startswith("streaming.")], 0.0
        )
        for recs in runs.values():
            recs.sort(key=lambda r: r["batch"])
            out["streaming.first_trigger_planning_s"] += (
                recs[0]["dur"].get("queryPlanning", 0) / 1e3
            )
            for r in recs:
                out["streaming.triggers"] += 1
                out["streaming.planning_s"] += r["dur"].get("queryPlanning", 0) / 1e3
                out["streaming.get_batch_s"] += r["dur"].get("getBatch", 0) / 1e3
                out["streaming.add_batch_s"] += r["dur"].get("addBatch", 0) / 1e3
                out["streaming.wal_commit_s"] += r["dur"].get("walCommit", 0) / 1e3
            out["streaming.state_rows"] += sum(s[0] for s in recs[-1]["state"])
            out["streaming.state_memory_bytes"] += sum(s[1] for s in recs[-1]["state"])
        return out


def _stream_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamTrace(StreamingQueryListener):
        """Records each trigger's phase durations and state size."""

        def __init__(self):
            self.progress: list[dict] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            ts = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
            rec = {
                "run": str(p.runId),
                "batch": p.batchId,
                "ts_ms": ts.timestamp() * 1000,
                "dur": dict(p.durationMs),
                "state": [(s.numRowsTotal, s.memoryUsedBytes) for s in p.stateOperators],
            }
            with self._lock:
                self.progress.append(rec)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return StreamTrace()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--fixture", required=True)
    ap.add_argument("--oracles", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()
    spec = workloads.WORKLOADS[args.workload]
    load_start = os.getloadavg()

    run = Run(args, spec)
    run.setup()
    log(f"setup: {run.setups[0]:.3f} s")
    cold = run.cold_pass()
    run.record_regime()
    passes: list[dict] = []
    t_warm = time.perf_counter()
    while (len(passes) <= TIMED_WARM_PASSES
           or time.perf_counter() - t_warm < args.seconds):
        passes.append(run.timed_pass(f"warm{len(passes)}"))
    warm = passes[-TIMED_WARM_PASSES:]
    run.teardown()
    if not args.trace:
        for _ in range(EXTRA_SETUPS):
            run.setup_again()
        run.spark.stop()

    warm_pass_s = statistics.median(p["pass_s"] for p in warm)
    if args.trace:
        metrics = run.layer_metrics(warm)
        units = per_layer_units()
        del units[PEAK_RSS]
    else:
        metrics = {
            "setup_s": statistics.median(run.setups),
            "cold_pass_s": cold["pass_s"],
            "warm_pass_s": warm_pass_s,
        }
        units = {"setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s"}
    failed = len(run.failures)
    result = {
        "correct": failed == 0,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        "detail": {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "regime": run.regime,
            "warm_passes": len(passes),
            "timed_warm": [p["label"] for p in warm],
            "pass_s": {p["label"]: p["pass_s"] for p in run.passes},
            "queries": {
                p["label"]: {r["query"]: r["wall_s"] for r in p["queries"]}
                for p in run.passes
            },
            "setups": run.setups,
            "setup_layers": run.layers_setup,
            "per_query_trace": getattr(run, "per_query_trace", None),
            "checks": run.checks,
            "failures": run.failures,
            "loadavg_start": load_start,
            "loadavg_end": os.getloadavg(),
        },
    }
    with open(args.result, "w") as fh:
        json.dump(result, fh, indent=1, default=str)


if __name__ == "__main__":
    main()
