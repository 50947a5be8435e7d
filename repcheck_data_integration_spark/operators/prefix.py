"""Distributed prefix sums over distinct-value tables (round-8 departition).

Removes the last dimension-sized unpartitioned windows (VERDICT r7 "what's
wrong" #1-#3 plus the rank-cut family the fixed audit exposed): a global
``row_number()/sum()/rank() OVER (ORDER BY v)`` over a |customers|-,
|parts|- or |distinct-score|-sized relation funnels the whole dimension
through one task. The identity used by every caller: for a row in value
group ``v`` with within-group position ``rn`` (any deterministic
tie-break),

    global_rank          = off_cnt(v) + rn     (rank() ties: off_cnt + 1)
    global_cumsum(value) = off_sum(v) + rn * v (value constant in group)

where ``off_*`` sum over all STRICTLY-earlier value groups.

The offsets come from a three-level scan over DETERMINISTIC value buckets
(v1 used repartitionByRange + a spark_partition_id pin, which cost a
sampling pass plus a second eager checkpoint — ~1.5 s fixed per op at
sf0.1, a 3x bench regression on the small rows; this form is sampling-free
and pid-free):

  1. bucket id = (v - min) DIV width, width sized so <= ``nbuckets``
     buckets — monotone in v by construction, boundaries from the exact
     min/max (broadcast 1-row aggregate), so the layout is deterministic
     and needs no physical-partition bookkeeping;
  2. within-bucket exclusive prefix via a PARTITIONED window;
  3. bucket totals roll up into <= nbuckets/{B2} super-buckets: a
     PARTITIONED window gives within-super bucket offsets, and a
     broadcast theta join over the <= {B2}-row super totals closes the
     top level. Every relation above the value table is bounded BY
     CONSTRUCTION (nbuckets is a config constant), every window is
     partitioned, and no data-scaled single task exists anywhere.

The compact input (one row per distinct value) is eagerly checkpointed
once: the min/max probe, both window branches, and the caller's own
reuse (totals, join-backs) all read the cached blocks instead of
re-running the upstream fact aggregate.

Skew note: value buckets are equal-WIDTH, so a pathologically clustered
domain (all values inside one width) degrades to one window task over d
rows — exactly the old global window, never worse, and unreachable for
the money-cents / count domains the callers feed. ``nbuckets`` scales
the parallelism on a real cluster. Values must be integral (LONG) and
must not span more than ~2^62 of range (width arithmetic overflows
beyond that — assert-guarded).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from .ckpt import pin

B2 = 64  # super-bucket fan-in (level-3 theta join is <= B2^2 pair evals)


def prefix_offsets(
    vals: DataFrame,
    order_col: str,
    sum_cols: list[str],
    ascending: bool = True,
    nbuckets: int = 4096,
) -> DataFrame:
    """``vals`` has ONE row per distinct ``order_col`` value (an integral
    type) plus additive columns ``sum_cols``. Returns ``vals`` with an
    ``off_<c>`` column per sum col = the sum of ``c`` over all rows
    strictly before this one in ``order_col`` order (ascending or
    descending), plus a ``tot_<c>`` column carrying the GRAND total of
    ``c`` (a byproduct of the super-bucket level — callers that need n
    or a corpus total must read it from here instead of re-aggregating
    the output, which would re-run the whole prefix DAG once per
    branch). Exclusive prefix sums, computed without any unpartitioned
    window (module docstring)."""
    vp = pin(vals)  # ckpt.plan_only() consumers audit the full tree
    mm = vp.agg(
        F.min(order_col).alias("_mn"), F.max(order_col).alias("_mx")
    )
    width = f"((_mx - _mn) DIV {nbuckets} + 1)"
    # overflow guard (docstring contract): a value range wider than the
    # LONG domain wraps (_mx - _mn) negative and would bucket garbage —
    # fail loudly instead. Woven into the needed column via assert_true
    # (an eager count guard would double the source scan, CLAUDE.md).
    bkt = F.coalesce(
        F.assert_true(
            F.col("_mx") - F.col("_mn") >= 0,
            F.lit("prefix_offsets: value range exceeds the LONG domain"),
        ).cast("long"),
        F.expr(f"({order_col} - _mn) DIV {width}"),
    )
    v = (
        vp.join(F.broadcast(mm))
        .withColumn("_bkt", bkt)
        .drop("_mn", "_mx")
    )
    sort = F.col(order_col).asc() if ascending else F.col(order_col).desc()
    bsort = F.col("_bkt").asc() if ascending else F.col("_bkt").desc()

    # level 1: within-bucket exclusive prefix over the values
    w1 = (
        W.partitionBy("_bkt")
        .orderBy(sort)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    with_loc = v.select(
        "*",
        *[
            F.coalesce(F.sum(c).over(w1), F.lit(0)).alias(f"_loc_{c}")
            for c in sum_cols
        ],
    )

    # level 2: bucket totals; within-super exclusive prefix over buckets
    bt = v.groupBy("_bkt").agg(
        *[F.sum(c).alias(f"_t_{c}") for c in sum_cols]
    )
    bt = bt.withColumn("_sup", F.expr(f"_bkt DIV {B2}"))
    w2 = (
        W.partitionBy("_sup")
        .orderBy(bsort)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    bt2 = bt.select(
        "_bkt",
        "_sup",
        *[
            F.coalesce(F.sum(f"_t_{c}").over(w2), F.lit(0)).alias(
                f"_bo_{c}"
            )
            for c in sum_cols
        ],
    )

    # level 3: super totals; prefix via a broadcast theta join over the
    # <= nbuckets/B2 + 1 super rows (bounded by construction)
    st = bt.groupBy("_sup").agg(
        *[F.sum(f"_t_{c}").alias(f"_st_{c}") for c in sum_cols]
    )
    prev = st.select(
        F.col("_sup").alias("_psup"),
        *[F.col(f"_st_{c}").alias(f"_pst_{c}") for c in sum_cols],
    )
    cond = (
        F.col("_psup") < F.col("_sup")
        if ascending
        else F.col("_psup") > F.col("_sup")
    )
    soff = (
        st.select("_sup")
        .join(F.broadcast(prev), cond, "left")
        .groupBy("_sup")
        .agg(
            *[
                F.coalesce(F.sum(f"_pst_{c}"), F.lit(0)).alias(f"_so_{c}")
                for c in sum_cols
            ]
        )
    )
    boff = bt2.join(F.broadcast(soff), "_sup").select(
        "_bkt",
        *[
            (F.col(f"_bo_{c}") + F.col(f"_so_{c}")).alias(f"_pre_{c}")
            for c in sum_cols
        ],
    )

    # grand totals ride along as 1-row broadcast columns (tot_<c>)
    gt = st.agg(
        *[F.sum(f"_st_{c}").alias(f"tot_{c}") for c in sum_cols]
    )

    out = with_loc.join(F.broadcast(boff), "_bkt").join(F.broadcast(gt))
    for c in sum_cols:
        out = out.withColumn(
            f"off_{c}", F.col(f"_pre_{c}") + F.col(f"_loc_{c}")
        )
    drop = ["_bkt"]
    for c in sum_cols:
        drop += [f"_loc_{c}", f"_pre_{c}"]
    return out.drop(*drop)
