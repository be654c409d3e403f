"""The benchmark's workloads: fixed query lists from the engine's
registry, each chosen so that one layer dominates its time.

Each list is a sample of one query family, sized so that one pass takes
one to two seconds on four cores; a run repeats whole passes. The text
dedup and media queries form one workload: on these input sizes both
spend most of their executor time waiting on Python workers, so apart
they would measure the same layer, and a fourth workload would not fit
the benchmark's time budget once every set-up starts a new JVM.
"""

from __future__ import annotations

from typing import NamedTuple


class Workload(NamedTuple):
    why: str
    queries: tuple[str, ...]


WORKLOADS: dict[str, Workload] = {
    "relational": Workload(
        why="tiny per-query inputs, so fixed per-query cost dominates: "
            "build with eager jobs, planning, job scheduling; no Python "
            "workers, no streaming",
        queries=(
            # the paper's own pipeline
            "q06_asof_purchase_view", "q13_election_days", "q14_year_join",
            # TPC-H Q1 and a TPC-H-shaped join
            "q01_pricing_summary", "q63_nation_volume",
            # an iterative driver that fires jobs while it builds
            "q80_transitive_closure",
        ),
    ),
    "udf": Workload(
        why="text dedup operators and media codecs in Arrow UDFs: "
            "executor time goes to waiting on Python workers",
        queries=(
            "q140_incremental_dedup", "q239_flac_multichannel",
        ),
    ),
    "stream_replay": Workload(
        why="availableNow streaming drains inside the query builder that "
            "write state and checkpoints: the only workload that writes",
        queries=(
            "q164_stream_mv_replay", "q193_stream_dedup_replay",
        ),
    ),
}
