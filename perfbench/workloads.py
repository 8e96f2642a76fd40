"""The benchmark's workloads: which registry keys run, at what scale, and how.

README.md in this directory says why each workload and key list was chosen.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

# Operator module (``go_batch_processor_spark/operators/<m>.py``) of every key
# the workloads run; the per-layer metrics are named after these modules.
MODULE = {
    "tpch_q3_shape": "composite",
    "agg_groupby_q1": "aggregates",
    "tpch_q6_shape": "composite",
    "agg_distinct_count": "aggregates",
    "window_rank_topn_per_group": "windows",
    "text_quality_score": "text",
    "dedup_exact": "dedup",
    "similarity_topk_cosine": "similarity",
    "graph_k_core": "graph",
    "ml_logreg_irls": "ml",
    "timeseries_matrix_profile": "timeseries",
    "timeseries_motif_topk": "timeseries",
}
MODULES = (
    "composite",
    "aggregates",
    "windows",
    "text",
    "dedup",
    "similarity",
    "graph",
    "ml",
    "timeseries",
)

# Module-cache family: the first key builds the shared frame, the second reads it.
CACHE_BUILDER = "timeseries_matrix_profile"
CACHE_SIBLING = "timeseries_motif_topk"


@dataclass(frozen=True)
class Workload:
    name: str
    sf: str  # fixture directory name, e.g. "sf0.1"
    keys: tuple[str, ...]
    pass_s: float  # typical length of one measured pass on a 4-core box
    warm: int  # unmeasured passes before the measured ones; the first runs cold
    pipeline: bool = False  # False: one key at a time, each collected
    copies: int = 1  # batches per key in a pipeline pass

    def passes(self, seconds: float) -> int:
        """Whole measured passes that fill about ``seconds``; at least one."""
        return max(1, round(seconds / self.pass_s))

    def order(self, seed: str) -> list[str]:
        """Keys of one pass in seeded order; a cache sibling follows its builder."""
        units = [[k] for k in self.keys if k != CACHE_SIBLING]
        for unit in units:
            if unit[0] == CACHE_BUILDER and CACHE_SIBLING in self.keys:
                unit.append(CACHE_SIBLING)
        random.Random(seed).shuffle(units)
        return [k for unit in units for k in unit]

    def batches(self, seed: str) -> list[str]:
        """Keys of every batch of one pipeline pass, in seeded order."""
        out = [k for k in self.keys for _ in range(self.copies)]
        random.Random(seed).shuffle(out)
        return out


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "iterative_sf01",
            "sf0.1",
            (
                "graph_k_core",
                "ml_logreg_irls",
                CACHE_BUILDER,
                CACHE_SIBLING,
            ),
            pass_s=8.0,
            warm=2,
        ),
        Workload(
            "pipeline_sf001",
            "sf0.01",
            (
                "tpch_q3_shape",
                "tpch_q6_shape",
                "agg_groupby_q1",
                "agg_distinct_count",
                "window_rank_topn_per_group",
                "dedup_exact",
                "text_quality_score",
                "similarity_topk_cosine",
            ),
            pass_s=3.0,
            warm=1,
            pipeline=True,
            copies=4,
        ),
    )
}
