"""Checkpoint hygiene: build-time pin helper + shared components frame.

Round-9, from two round-8 advisories:

1. ``pin()`` — the eager ``localCheckpoint`` that several operators run at
   DataFrame-CONSTRUCTION time (multi-branch lattices re-read a small
   aggregate instead of re-running its whole upstream DAG per branch)
   truncates lineage into a ``LogicalRDD`` node that plan-only consumers
   (tools/window_audit.py, tests/test_plan_shapes.py) cannot recurse
   into — a window upstream of the checkpoint would be invisible to the
   audit, the same blindness class round 8 fixed for ``.persist()``.
   Routing every build-time checkpoint through ``pin()`` gives those
   consumers one switch (``with plan_only():``) that returns the frame
   un-checkpointed, so the FULL logical plan stays auditable and query
   construction has no job-execution side effects. Iterative loops whose
   convergence probes execute at build time anyway (connected
   components, PageRank, BPE merges) keep their unconditional
   checkpoints — disabling those would deepen plans quadratically
   without making anything more auditable that their per-round actions
   don't already execute.

2. ``shared_components()`` — split_leakage_safe and
   dq_split_contamination each rebuilt the full dedup_components DAG
   (MinHash-LSH banding + iterative CC, ~5 s at sf0.1), so a gate or
   bench run paid the component build twice back-to-back (VERDICT r8
   "what's wrong" #3). This memoizes the (doc_id, canonical_doc_id)
   frame per (session, source content) behind an eager localCheckpoint —
   NOT ``.persist()``, which would let the optimizer substitute
   InMemoryRelation into OTHER queries' identical subtrees (the
   CLAUDE.md round-8 cross-plan hazard). A localCheckpoint is a private
   RDD scan: only DataFrames derived from the returned object read it.
   Keyed like tables.load_bucketed — content fingerprint + LAYOUT_SALT —
   so in-place fixture regeneration and scale_probe impersonation never
   reuse stale components. On a real cluster this frame is the persisted
   dedup-cluster table an ingest pipeline maintains; the memo stands in
   for that materialization locally.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame, SparkSession

# Plan-only consumers (window_audit, plan-shape tests) build queries
# inside ``with plan_only():`` to skip build-time checkpoint side effects,
# so the optimized plan exposes the full pre-checkpoint tree. Never build
# a query that will EXECUTE inside it: the multi-branch lattices
# downstream of pin() re-run their upstream DAG once per branch when
# unpinned.
_PLAN_ONLY: ContextVar[bool] = ContextVar("plan_only", default=False)


@contextmanager
def plan_only(on: bool = True) -> Iterator[None]:
    """Set plan-only mode for the block, restoring the prior mode on exit
    (re-entrant: nested blocks unwind in order)."""
    token = _PLAN_ONLY.set(on)
    try:
        yield
    finally:
        _PLAN_ONLY.reset(token)


def pin(df: DataFrame) -> DataFrame:
    """Eagerly localCheckpoint a SMALL multi-branch frame (bounded grid /
    per-entity aggregate), unless a plan-only consumer disabled
    build-time side effects."""
    if _PLAN_ONLY.get():
        return df
    return df.localCheckpoint(eager=True)


# (applicationId, sf_dir, layout salt, content fingerprint[, "stream"])
#   -> (owning session, components frame)
# Keyed on applicationId, NOT id(spark) (VERDICT r9 #6: CPython reuses
# ids after GC, so a new session could alias a dead session's entry and
# be handed a checkpointed RDD from a stopped SparkContext). The session
# object rides along so lookups can sweep entries whose context has been
# stopped — mirroring tables.py's dead-pid sweep for bucketed layouts
# (ADVICE r9: without eviction, long-lived multi-session processes pin
# dead sessions and their checkpoints forever).
_COMPONENTS_CACHE: dict[tuple, tuple[SparkSession, DataFrame]] = {}


def _session_stopped(s: SparkSession) -> bool:
    """True when the session's underlying SparkContext has been stopped
    (PySpark nulls the JVM handle on stop)."""
    try:
        return s.sparkContext._jsc is None
    except Exception:
        return True


def _sweep_dead_sessions() -> None:
    for k in [
        k for k, (s, _) in _COMPONENTS_CACHE.items() if _session_stopped(s)
    ]:
        del _COMPONENTS_CACHE[k]


def _memo_components(
    spark: SparkSession,
    sf_dir: str,
    build: Callable[[], DataFrame],
    tag: tuple,
    label: str,
) -> DataFrame:
    """``build()`` once per (session, documents-content, ``tag``), served
    from an eager localCheckpoint; the build time lands in
    ``tables.FIXED_COSTS["<label>:<sf dir name>"]``.

    Falls back to a fresh un-memoized build when the fixture path has no
    stat-able parquet (probe harnesses patching tables.load) — the memo
    is an optimization, never a correctness dependency."""
    from .. import tables

    try:
        fp = tables._content_fingerprint(
            os.path.join(sf_dir, "documents.parquet")
        )
    except OSError:
        return build()
    _sweep_dead_sessions()
    key = (
        spark.sparkContext.applicationId,
        sf_dir,
        tables.LAYOUT_SALT,
        fp,
        *tag,
    )
    hit = _COMPONENTS_CACHE.get(key)
    if hit is not None:
        return hit[1]
    t0 = time.time()
    # Build with checkpoints ENABLED even when a plan-only consumer
    # triggers the first build: the memoized frame must be identical no
    # matter who touches it first (an unpinned lattice build would be
    # slower and plan-deeper for the same values).
    with plan_only(False):
        comp = build().localCheckpoint(eager=True)
    tables.FIXED_COSTS[
        f"{label}:{os.path.basename(sf_dir.rstrip('/'))}"
    ] = round(time.time() - t0, 3)
    _COMPONENTS_CACHE[key] = (spark, comp)
    return comp


def shared_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_components' (doc_id, canonical_doc_id) frame, computed once
    per (session, documents-content) and served from a localCheckpoint.

    Plan-only consumers are served from the memo too (round-11): the
    components loop executes its convergence probes at CONSTRUCTION time
    regardless, so the consumer's optimized plan ends in a
    lineage-truncated checkpoint leaf EITHER WAY (that is exactly why
    this family sits in UNAUDITABLE_LEAF_PINS with one-round audit
    hooks) — a fresh build bought the audit nothing while re-running the
    full LSH+CC DAG once per consumer (~11 s × 4 consumers per
    window_audit sweep at sf0.001, measured round-11)."""
    from .dedup import dedup_components

    return _memo_components(
        spark,
        sf_dir,
        lambda: dedup_components(spark, sf_dir),
        (),
        "components",
    )


def shared_stream_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """minhash_components_batch's (doc_id, canonical_id) frame, computed
    once per (session, documents-content) — the STREAMING-verify twin of
    shared_components (round-10 optimization). stream_dedup_minhash and
    dedup_cluster_stats each rebuilt the banded-candidates + minhash-
    agreement + iterative-CC DAG (~3 s at sf0.1) from the identical
    (doc_id, text) input; like the r9 memo, on a cluster this frame is
    the maintained dedup-cluster state table the streaming fold persists,
    and the memo stands in for that materialization locally. Plan-only
    consumers read the memo as of round 11 for the same reason as
    shared_components."""
    from .. import tables
    from ..streaming.stream_ops import minhash_components_batch

    return _memo_components(
        spark,
        sf_dir,
        lambda: minhash_components_batch(
            tables.load(spark, sf_dir, "documents").select("doc_id", "text")
        ),
        ("stream",),
        "stream_components",
    )
