"""The benchmark's workloads: which registered queries run, at what scale.

Each workload is one closed-loop client running its query list back to
back in a single SparkSession. See ``perfbench/README.md`` for why each
query is in its list and which layer metric each workload should move.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    queries: tuple[str, ...]
    # timed warm passes at least, whatever ``--seconds`` says: the pass
    # count, not the host's speed, fixes which session positions are timed
    min_passes: int
    # three queries of distinct cost make query_p50_s the middle query's
    # median; with two, it would straddle the gap between them
    why: str


WORKLOADS = {w.name: w for w in (
    Workload(
        "olap_tpch", 0.01,
        ("q5_revenue_by_nation", "q1_pricing_summary", "q6_revenue_delta"), 3,
        "a TPC-H six-table join and two scan aggregates: table loads, "
        "planner, codegen, scan and shuffle; no eager build, no Python, "
        "no writes",
    ),
    Workload(
        "graph_panel_lake", 0.001,
        ("dedup_clusters", "o22_hp_detrend_centi", "schema_evolution_read"), 2,
        "a connected-components fixpoint run while the query is built, the "
        "paper's HP detrend through applyInPandas, a lake write-then-read: "
        "eager build, Python/Arrow, sinks",
    ),
)}
