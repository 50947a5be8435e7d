"""The benchmark's workloads and the layer each registered query belongs to.

Each workload is a fixed list of registered query names run back to back by
one client (closed loop), pass after pass. The run's ``--seed`` permutes that
order: order is a real input property here, because a ``.persist()`` left
behind by one query makes Spark substitute the cached data into every later
identical subtree, including other queries' plans.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

PACKAGE = "repcheck_data_integration_spark"


@dataclass(frozen=True)
class Workload:
    scale: float
    copies: int
    # Passes timed after the first. Fixed per workload, so every run's
    # medians are taken over the same mix of samples: passes still get
    # faster for a while as the JIT warms up.
    later_passes: int
    queries: tuple[str, ...]


# Scale 0.01 is the repository's oracle scale (60k lineitem rows); the
# warehouse workload reads ten key-shifted copies of scale 0.05 (3M rows).
# One query per layer at least, so every layer is measured on some workload.
WORKLOADS: dict[str, Workload] = {
    # The reference's civic ETL (a file decoder, people/vote resolution, a
    # spatial join, constraint checks, upsert/SCD2 sinks), LLM-corpus
    # curation (Python-worker/Arrow UDFs, pair joins, the shared
    # dedup-components memo) and iterative graph/ML loops, at 1x: the
    # per-job floor, eager build-time jobs and Python workers dominate.
    "pipelines_1x": Workload(
        scale=0.01,
        copies=1,
        later_passes=1,
        queries=(
            "src_shapefile_scan",
            "dq_constraint_check",
            "win_current_role",
            "join_phonetic_block",
            "join_spatial_knn",
            "join_semi_bill_vote",
            "join_pit_scd2",
            "snk_upsert",
            "dedup_minhash_lsh",
            "sim_search_topk",
            "text_tfidf_topterms",
            "text_quality_score",
            "llm_summarize",
            "split_leakage_safe",
            "mm_audio_energy",
            "graph_hits",
            "ml_lasso_cd",
        ),
    ),
    # Per-row work at 10x with no Python workers: scans, codegen'd
    # aggregation and the bucketed fact layout (its writes in the first
    # pass, shuffle-free joins after). No dedup ops: the copies are exact
    # text twins.
    "warehouse_10x": Workload(
        scale=0.05,
        copies=10,
        later_passes=3,
        queries=(
            "tpch_q1_pricing_summary",
            "tpch_q3_shipping_priority",
            "agg_stats_moments",
            "stream_stream_join",
        ),
    ),
}

LAYERS = (
    "sources",
    "plans",
    "streaming",
    "operators.windows",
    "operators.resolve",
    "operators.spatial",
    "operators.joins",
    "operators.temporal",
    "operators.upsert",
    "operators.dedup",
    "operators.similarity",
    "operators.textops",
    "operators.textstats",
    "operators.llm",
    "operators.sampling",
    "operators.multimodal",
    "operators.quality",
    "operators.aggregates",
    "operators.graph",
    "operators.statsml",
)

LAYER_METRICS = ("build_s", "exec_s", "jobs", "shuffle_bytes", "spill_bytes", "python_s")
SESSION_METRICS = (
    "session.start_s",
    "tables.layout_write_s",
    "ckpt.components_build_s",
    "session.leaked_persists",
    "trace.overhead_s",
)


def layer_of(module: str) -> str:
    """The layer of the module that registers a query: its subpackage for
    ``sources``, ``plans`` and ``streaming``, else ``operators.<module>``
    with the ``statsml``..``statsml6`` split folded into one layer."""
    parts = module.split(".")
    if parts[0] != PACKAGE or len(parts) < 3:
        raise ValueError(f"not a query module of {PACKAGE}: {module}")
    if parts[1] in ("sources", "plans", "streaming"):
        return parts[1]
    if parts[1] != "operators":
        raise ValueError(f"no layer for module {module}")
    name = "statsml" if parts[2].startswith("statsml") else parts[2]
    layer = f"operators.{name}"
    if layer not in LAYERS:
        raise ValueError(f"no layer for module {module}")
    return layer


def per_layer_metric_names() -> list[str]:
    names = [f"{layer}.{m}" for layer in LAYERS for m in LAYER_METRICS]
    return names + list(SESSION_METRICS)


def permute(queries: tuple[str, ...] | list[str], seed: int) -> list[str]:
    """The run's query order: seed 0 keeps the listed order, any other seed
    is a deterministic shuffle of it."""
    order = list(queries)
    if seed != 0:
        random.Random(seed).shuffle(order)
    return order
