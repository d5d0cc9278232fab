"""The benchmark's workloads: which registry queries each runs, on what
tables, and why it was chosen. See NOTES.md for the layer -> metric ->
workload map."""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class Workload:
    why: str
    queries: list[str]
    # the sf0.1 tables (perfbench/data/sf0.1) the queries read
    tables: list[str]
    # table -> (column, values): keep only the rows whose column holds
    # one of the values (default: every row)
    rows: dict[str, tuple[str, list]] = field(default_factory=dict)
    # table -> number of part files (default one file)
    files: dict[str, int] = field(default_factory=dict)
    # environment of the measured process
    env: dict[str, str] = field(default_factory=dict)
    # the scale_profile regime the fixture must get ("small" or "full")
    profile: str = "small"


LOOKUP = Workload(
    why=(
        "the paper's operator (broadcast left-outer lookup, its variants "
        "and chains) on multi-file inputs in the at-scale regime"
    ),
    # 9 of the 16 q_lookup queries, the equi-key lookups: the asof
    # family and lookup_range (which read events), and
    # lookup_default_alias (the plan of lookup), are left out for time
    queries=[
        "lookup", "lookup_default_on_miss", "lookup_multi_key",
        "lookup_multi_value", "lookup_first_match", "lookup_inner",
        "lookup_null_safe", "lookup_big", "lookup_chain",
    ],
    tables=["region", "nation", "customer", "orders", "lineitem"],
    files={"lineitem": 16, "orders": 8},
    # sf0.1 (~19 MB) is under scale_profile's 64 MB small-input gate;
    # lowering the gate puts it in the regime every larger input gets
    # (AQE on, nproc-wide shuffles). A 5x derivation, above the gate,
    # costs ~12 s per warm pass, more than a run's time budget allows.
    env={"SPARK_GRAFT_SMALL_INPUT_MAX_BYTES": str(8 << 20)},
    profile="full",
)

CORPUS = Workload(
    why=(
        "text operators (n-gram join, exact embedding near-dup in Python "
        "workers) and the streaming and write path (availableNow "
        "triggers, state store, partitioned sink)"
    ),
    queries=[
        "ngram_jaccard", "embedding_near_dup", "stream_tumbling",
        "sink_partitioned",
    ],
    tables=["documents", "embeddings", "events", "orders"],
    # 5 of the 20 sources: ngram_jaccard blocks documents by source, so
    # its five blocks are sf0.1's own; all 5,000 documents cost ~7 s per
    # pass in ngram_jaccard alone, more than a run's time budget allows
    rows={"documents": ("source", [f"src{i}" for i in range(5)])},
)

WORKLOADS: dict[str, Workload] = {
    "lookup": LOOKUP,
    "corpus": CORPUS,
}
