"""Benchmark inputs: the workloads' fixture tables and the DuckDB oracle
results the output checks compare against.

Runs as its own process (``python perfbench/fixture.py ...``), never in
the measured one: reading or deriving data in the measured process
warms its file cache and JIT and shortens the set-up that follows.

The tables are the repository's sf0.1 fixture (TESTDATA.md), committed
unchanged under ``perfbench/data/sf0.1`` so a run reads nothing outside
its checkout. Each workload gets its own directory holding only the
tables its queries read, so the ingest-time statistics pass (part of
set-up) covers exactly what the workload uses.

- ``corpus`` uses the tables as they are, except that ``documents``
  keeps 5 of its 20 sources (whole blocks of ``ngram_jaccard``); its
  fixture and oracle results are built once per checkout and reused.
- ``lookup`` is derived per seed: the seed picks the row order of every
  table and the key offsets of orders and customers. The fact tables
  are written as many files (lineitem 16, orders 8), so scans are split
  the way real inputs are.

Prints one JSON line: the fixture and oracle directories and the time
spent preparing them.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workloads  # noqa: E402

DATA = os.path.join(HERE, "data", "sf0.1")
# bump when the derivation or a workload's table set changes: cached
# fixtures and oracle results are keyed by it
VERSION = 10


def write_table(t: pa.Table, path: str, files: int = 1) -> None:
    """``path`` is ``<dir>/<name>.parquet``: one file, or a directory of
    ``files`` part files when the table is split."""
    if files == 1:
        pq.write_table(t, path)
        return
    os.makedirs(path)
    step = -(-t.num_rows // files)
    for i in range(files):
        pq.write_table(
            t.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet")
        )


def write_tables(tables: dict[str, pa.Table], d: str, files: dict[str, int]) -> None:
    for n, t in tables.items():
        write_table(t, os.path.join(d, f"{n}.parquet"), files.get(n, 1))


def derive_lookup(base: dict[str, pa.Table], seed: int) -> dict[str, pa.Table]:
    """Seeded derivation: shuffled row order, shifted keys. Offsets are
    applied on both sides of every foreign key, so each join keeps its
    match structure while the key values change with the seed."""
    rng = np.random.default_rng(seed)
    k_order, k_cust, k_event = (int(x) * 1_000_000 for x in rng.integers(1, 1000, 3))
    shift = {
        "orders": {"o_orderkey": k_order, "o_custkey": k_cust},
        "lineitem": {"l_orderkey": k_order},
        "customer": {"c_custkey": k_cust},
        "events": {"event_id": k_event},
    }
    out = {}
    for name, t in base.items():
        for col, k in shift.get(name, {}).items():
            i = t.schema.get_field_index(col)
            t = t.set_column(i, col, pc.add(t[col], pa.scalar(k, pa.int64())))
        out[name] = t.take(pa.array(rng.permutation(t.num_rows)))
    return out


def duck_views(fixture_dir: str):
    """A DuckDB connection with one view per fixture table."""
    import duckdb

    con = duckdb.connect()
    for entry in sorted(os.listdir(fixture_dir)):
        if not entry.endswith(".parquet"):
            continue
        path = os.path.join(fixture_dir, entry)
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(
            f"CREATE VIEW {entry[:-8]} AS SELECT * FROM read_parquet('{src}')"
        )
    return con


def write_oracles(fixture_dir: str, oracle_dir: str, queries: list[str]) -> None:
    """Materialize each query's DuckDB oracle result once per fixture, so
    brute-force oracles are paid once, not on every run."""
    sys.path.insert(0, os.path.dirname(HERE))
    from lookup_transform_spark import registry

    con = duck_views(fixture_dir)
    tmp = oracle_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for q in queries:
        con.execute(
            f"COPY ({registry.ORACLES[q]}) TO '{tmp}/{q}.parquet' (FORMAT parquet)"
        )
    con.close()
    shutil.rmtree(oracle_dir, ignore_errors=True)
    os.rename(tmp, oracle_dir)


def _build(path: str, make) -> None:
    """Build ``path`` atomically: a half-written fixture from a killed
    run must never be mistaken for a finished one."""
    if os.path.exists(path):
        return
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    make(tmp)
    os.rename(tmp, path)


def _prepare_one(root: str, workload: str, seed: int) -> tuple[str, str]:
    spec = workloads.WORKLOADS[workload]
    stem = f"{workload}_v{VERSION}"
    if workload == "lookup":
        fixture = os.path.join(root, f"{stem}_s{seed}")
        for old in os.listdir(root):
            if old.startswith(f"{stem}_s") and old != f"{stem}_s{seed}":
                shutil.rmtree(os.path.join(root, old), ignore_errors=True)

        def make(d):
            base = {
                n: pq.read_table(os.path.join(DATA, f"{n}.parquet"))
                for n in spec.tables
            }
            write_tables(derive_lookup(base, seed), d, spec.files)
    else:
        fixture = os.path.join(root, stem)

        def make(d):
            for n in spec.tables:
                src, dst = (os.path.join(x, f"{n}.parquet") for x in (DATA, d))
                if n not in spec.rows:
                    shutil.copyfile(src, dst)
                    continue
                col, keep = spec.rows[n]
                t = pq.read_table(src)
                pq.write_table(t.filter(pc.is_in(t[col], pa.array(keep))), dst)

    _build(fixture, make)
    oracles = fixture + "_oracles"
    if not os.path.exists(oracles):
        write_oracles(fixture, oracles, spec.queries)
    return fixture, oracles


def prepare(work: str, workload: str, seed: int) -> tuple[str, str]:
    """Return (fixture dir, oracle dir) for a run, building what is
    missing. The seed-independent fixtures and their oracle results
    (some brute-force oracles take a minute) are all built by the first
    run in a checkout, whichever workload it runs. Only the current
    seed's lookup fixture is kept on disk."""
    root = os.path.join(work, "fixtures")
    os.makedirs(root, exist_ok=True)
    for other in workloads.WORKLOADS:
        if other not in (workload, "lookup"):
            _prepare_one(root, other, seed)
    fixture, oracles = _prepare_one(root, workload, seed)
    clear_at_rest(f"{workload}_v{VERSION}")
    return fixture, oracles


def clear_at_rest(stem: str) -> None:
    """Wipe what earlier runs left, so a cold pass never depends on them:
    every at-rest artifact keyed to one of the workload's fixtures, any
    seed (``registry.scratch_path`` names: IVF layouts, sink tables,
    ingest work dirs), and the staged event streams of
    ``read_events_stream``."""
    import glob

    sys.path.insert(0, os.path.dirname(HERE))
    from lookup_transform_spark import registry

    for pattern in (f"*_{stem}*", "stream_events_*"):
        for d in glob.glob(os.path.join(registry.SCRATCH, pattern)):
            shutil.rmtree(d, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--work", required=True)
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    t0 = dt.datetime.now()
    fixture, oracles = prepare(args.work, args.workload, args.seed)
    # write back what was just generated or deleted now, not while the
    # measured process runs
    os.sync()
    print(json.dumps({
        "fixture": fixture,
        "oracles": oracles,
        "prepare_s": (dt.datetime.now() - t0).total_seconds(),
    }))


if __name__ == "__main__":
    main()
