"""Top-k-by-key: the one spelling of argmax / top-k per group.

Two shapes, both exact (deterministic given a total tie-break chain):

- ``top_k``: ``row_number() OVER (PARTITION BY by ORDER BY order)`` then
  ``rank == 1`` (k = 1) or ``rank <= k``. The filter sits directly on the
  rank attribute, which is what lets Spark's InferWindowGroupLimit add a
  per-task partial top-k (WindowGroupLimit) below the exchange. With an
  empty ``by`` the window is global (one task) — only for bounded inputs
  (already-aggregated vocabularies, scalar candidate grids, the second
  level of a two-level top-k). The rank is IntegerType, like every
  row_number; the audit in tools/window_audit.py pins every such window.

- ``packed_argmin``: ``min(score * k + idx)`` for integer ``score`` and a
  dense id ``idx`` in ``[0, k)`` is the exact (score ASC, idx ASC) top-1
  — if s1 < s2 then s1·k + (k−1) < s2·k, and equal scores tie to the
  smaller idx. A LONG min is HashAggregate-mutable, so the pick
  two-level-aggregates with map-side combine instead of sorting a
  k-way-expanded stream (``min(struct)`` plans as a SortAggregate). The
  caller owns the overflow headroom: |score|·k + k must fit in a LONG.
  The idx domain is asserted in-plan on every packed row; a NULL idx
  fails the assert too.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_RANK = "__topk_rank"


def top_k(
    df: DataFrame,
    by: Sequence[str | Column],
    order: Sequence[str | Column],
    k: int | Column = 1,
    rank_col: str | None = None,
) -> DataFrame:
    """Rows ranked 1..k within each ``by`` group under ``order``.

    ``k`` may be a Column for a per-row bound (prefix filters). The rank
    column is dropped unless ``rank_col`` names it, in which case it is
    kept under that name (IntegerType, 1-based)."""
    rn = rank_col or _RANK
    ranked = df.withColumn(
        rn, F.row_number().over(Window.partitionBy(*by).orderBy(*order))
    )
    keep = F.col(rn) == 1 if isinstance(k, int) and k == 1 else F.col(rn) <= k
    out = ranked.filter(keep)
    return out if rank_col else out.drop(rn)


def packed_argmin(score: Column, idx: Column, k: int) -> Column:
    """Aggregate expression: ``min(score * k + idx)`` with the idx domain
    ``0 <= idx < k`` asserted on every input row. Unpack the result with
    ``packed_idx`` / ``packed_score``.

    The assert rides ``coalesce(assert_true(..).cast(long), idx)``: an
    assert woven as ``when(assert.isNull(), c).otherwise(c)`` is deleted
    by equal-branch CaseWhen simplification."""
    guarded = F.coalesce(
        F.assert_true(
            (idx >= 0) & (idx < k),
            F.lit(f"packed_argmin: idx outside [0, {k})"),
        ).cast("long"),
        idx,
    )
    return F.min(score * k + guarded)


def packed_idx(packed: Column, k: int) -> Column:
    """The winning idx of a ``packed_argmin`` (LONG)."""
    return F.pmod(packed, F.lit(k))


def packed_score(packed: Column, k: int) -> Column:
    """The winning score of a ``packed_argmin`` (LONG): exact floor
    division in LONG arithmetic (a double divide drops the low bits past
    2^53), so negative scores unpack too."""
    return F.call_function("div", packed - packed_idx(packed, k), F.lit(k))
