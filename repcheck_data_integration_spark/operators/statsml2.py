"""Evaluation / robust-statistics / recsys / privacy extensions (round 4b).

Eleven more operator families on the statistics axis opened by statsml.py,
each a pure DataFrame plan with an exact DuckDB oracle twin:

- ml_auc_roc            Mann-Whitney rank-sum AUC of a score column
                        against a binary label, per segment plus a
                        pooled row — THE model-eval metric the quality
                        ladder (text_classifier_score, quality_logreg)
                        was missing; exact tie handling via integer
                        2x-average-ranks.
- ml_decision_stump     best single-split classifier per feature by
                        exact misclassification count (pure-integer
                        criterion: no rational impurity compare, so no
                        cross-engine float ordering risk).
- ts_theil_sen          Theil-Sen robust trend: median of pairwise
                        slopes of the weekly order series (+ median-
                        residual intercept), the outlier-proof
                        counterpart of ml_linreg_normal_eq.
- ts_cross_correlation  lead/lag cross-correlation between two event
                        streams at lags -7..+7 (does 'click' lead
                        'purchase'?) — the bivariate sibling of
                        ts_autocorr.
- rec_item_item_cosine  item-item collaborative filtering: top-3
                        cosine neighbors per part from co-purchase
                        baskets; candidates come from an equi-join on
                        the order key (basket-bounded), never all
                        item pairs.
- priv_dp_counts        epsilon-differentially-private released counts
                        via an inverse-CDF Laplace mechanism driven by
                        a deterministic md5 uniform — reproducible
                        noise, so the release is testable; completes
                        the privacy family (dq_k_anonymity /
                        dq_l_diversity / dq_t_closeness).
- ml_lift_gains         cumulative gains / lift table by exact integer
                        deciles — what acting on the top k% buys.
- ml_ks_statistic       Kolmogorov-Smirnov max CDF separation with the
                        achieving threshold (cross-multiplied integer
                        gaps, division after the max).
- ml_calibration_bins   reliability diagram + ECE of the percent-rank-
                        calibrated score; every bin metric an exact
                        integer ratio over the common denominator n-1.
- ts_ses_forecast       exponential-smoothing backtest with alpha = 1/2
                        chosen so every weight is a power of two and
                        the level is an exact dyadic rational.
- agg_theil_index       decomposable entropy inequality index next to
                        agg_gini_revenue (quantize-then-sum ln terms).

Reference seed: the reference repo's analytics are plain SQL aggregates
(/root/reference/scripts/database/database.py:1); these extend the §2-beyond
inventory along the evaluation/robustness/privacy axes. House determinism
rules apply (CLAUDE.md): integer arithmetic until the final division,
midpoint-offset quantization for libm terms, full tie-break chains,
identical expression strings interpolated into BOTH engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import register
from ..tables import load
from .dedup import sql_stable_round4, stable_round4
from .topk import top_k

# --------------------------------------------------------------------------
# ml_auc_roc
# --------------------------------------------------------------------------

# Shared AUC formula over integer sufficient stats: s2r = sum over
# positives of (2*rank + ties - 1) == twice the tie-averaged positive
# rank-sum, so AUC = (s2r - P(P+1)) / (2 P N) with every term exact.
_AUC = (
    "(CAST(s2r AS DOUBLE) - CAST(p AS DOUBLE) * (CAST(p AS DOUBLE) + 1.0))"
    " / nullif(2.0 * CAST(p AS DOUBLE) * CAST(q AS DOUBLE), 0.0)"
)


@register(
    "ml_auc_roc",
    oracle=f"""
    WITH base AS (
        SELECT o_orderpriority AS segment,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos,
               CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        FROM orders),
    pooled AS (
        SELECT * FROM base
        UNION ALL
        SELECT '__all__' AS segment, pos, cents FROM base),
    r AS (
        SELECT segment, pos,
               rank() OVER (PARTITION BY segment ORDER BY cents) AS rk,
               count(*) OVER (PARTITION BY segment, cents) AS ce
        FROM pooled),
    s AS (
        SELECT segment, sum(pos) AS p, sum(1 - pos) AS q,
               sum(pos * (2 * rk + ce - 1)) AS s2r
        FROM r GROUP BY 1)
    SELECT segment,
           CAST(p AS BIGINT) AS n_pos,
           CAST(q AS BIGINT) AS n_neg,
           {sql_stable_round4(_AUC)} AS auc
    FROM s
    ORDER BY segment
    """,
)
def ml_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney AUC of o_totalprice as a ranker for the binary label
    o_orderstatus = 'F', per o_orderpriority segment plus a pooled
    '__all__' row: does price predict order finality, and does the
    signal hold within each priority class?

    AUC == P(score_pos > score_neg) + 0.5 * P(tie), computed WITHOUT
    sampling pairs: rank-sum with exact tie correction. Twice the
    tie-averaged rank of a row is the integer 2*rank(<=) + ties - 1, and
    rank with ties sharing depends only on the value group — rk =
    off_cnt(cents) + 1, ce = the group count — so s2r collapses to the
    DISTINCT-value sum over (segment, cents) groups:
    s2r = sum_v pos_v * (2*off_v + c_v + 1), and
    AUC = (s2r - P(P+1)) / (2PN) needs one double division at the end.

    Scale shape (round-10 partitioned-window sweep): the old form ranked
    POOLED FACT ROWS with ``rank() OVER (PARTITION BY segment)`` — five
    priority partitions plus a constant '__all__' segment, i.e. a global
    single-task sort of the whole fact disguised as a partitioned window
    (invisible to the unpartitioned-window audit by construction), with
    Spark's IntegerType rank wrapping past 2^31 rows per segment while
    the BIGINT oracle keeps counting. Now: one map-side-combining
    aggregate to the distinct (segment, cents) stats, the pooled row
    derived at the DISTINCT level (no second fact pass), and per-segment
    offsets from grouped_prefix_offsets — every window partitioned by
    (segment, value bucket), no int rank anywhere. s2r ~ 2*P*N exceeds
    LONG at posture (the round-10 overflow class), so the positive count
    is DECIMAL(19,0)-widened before the multiply; DuckDB's BIGINT sum
    promotes to HUGEINT, exact on both sides, and both convert to DOUBLE
    once inside the shared AUC formula.
    """
    from .grouped_prefix import grouped_prefix_offsets

    o = load(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("segment"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("pos"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    vg = base.groupBy("segment", "cents").agg(
        F.count(F.lit(1)).alias("c"), F.sum("pos").alias("pc")
    )
    pooled = vg.unionByName(
        vg.groupBy("cents")
        .agg(F.sum("c").alias("c"), F.sum("pc").alias("pc"))
        .select(F.lit("__all__").alias("segment"), "cents", "c", "pc")
    )
    offs = grouped_prefix_offsets(pooled, ["segment"], "cents", ["c"])
    s = (
        offs.groupBy("segment")
        .agg(
            F.sum("pc").cast("long").alias("p"),
            F.max("tot_c").alias("n"),
            F.sum(
                F.col("pc").cast("decimal(19,0)")
                * (2 * F.col("off_c") + F.col("c") + 1)
            ).alias("s2r"),
        )
        .withColumn("q", F.col("n") - F.col("p"))
    )
    return s.select(
        "segment",
        F.col("p").cast("long").alias("n_pos"),
        F.col("q").cast("long").alias("n_neg"),
        stable_round4(F.expr(_AUC)).alias("auc"),
    ).orderBy("segment")


# --------------------------------------------------------------------------
# ml_decision_stump
# --------------------------------------------------------------------------

STUMP_TOPK = 3


@register(
    "ml_decision_stump",
    oracle=f"""
    WITH base AS (
        SELECT 'l_quantity' AS feature,
               CAST(l_quantity AS BIGINT) AS val,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
        FROM lineitem
        UNION ALL
        SELECT 'l_discount_pct' AS feature,
               CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT) AS val,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
        FROM lineitem),
    pv AS (
        SELECT feature, val, sum(pos) AS p, sum(1 - pos) AS q
        FROM base GROUP BY 1, 2),
    cum AS (
        SELECT feature, val,
               sum(p) OVER (PARTITION BY feature ORDER BY val) AS cp,
               sum(q) OVER (PARTITION BY feature ORDER BY val) AS cq,
               sum(p) OVER (PARTITION BY feature) AS tp,
               sum(q) OVER (PARTITION BY feature) AS tq,
               max(val) OVER (PARTITION BY feature) AS vmax
        FROM pv),
    sc AS (
        SELECT feature, val AS threshold,
               cp + cq AS n_left, (tp - cp) + (tq - cq) AS n_right,
               least(cp, cq) + least(tp - cp, tq - cq) AS errors,
               least(tp, tq) AS baseline_errors, tp + tq AS n_tot
        FROM cum WHERE val < vmax),
    rk AS (
        SELECT *, row_number() OVER (
                   PARTITION BY feature ORDER BY errors, threshold) AS rk
        FROM sc)
    SELECT feature, CAST(rk AS INT) AS rk,
           CAST(threshold AS BIGINT) AS threshold,
           CAST(n_left AS BIGINT) AS n_left,
           CAST(n_right AS BIGINT) AS n_right,
           CAST(errors AS BIGINT) AS errors,
           CAST(baseline_errors AS BIGINT) AS baseline_errors,
           {sql_stable_round4(
               '(CAST(n_tot AS DOUBLE) - CAST(errors AS DOUBLE))'
               ' / CAST(n_tot AS DOUBLE)')} AS accuracy
    FROM rk WHERE rk <= {STUMP_TOPK}
    ORDER BY feature, rk
    """,
)
def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best single-threshold classifier (decision stump) for the label
    l_returnflag = 'R' over two integerized features (l_quantity,
    l_discount_pct), top-{STUMP_TOPK} thresholds per feature.

    The split criterion is the exact MISCLASSIFICATION COUNT
    min(posL,negL) + min(posR,negR) (each side predicts its majority) —
    deliberately NOT Gini/entropy: impurity ratios are rationals whose
    cross-engine ordering would need cross-multiplied comparisons
    inside an ORDER BY; error counts are integers, so the ranking is
    exact by construction. The accuracy column is the only division.

    Scale shape: one scan melts both features via a 2-way stack (no
    second fact-table pass), aggregates to |distinct values| rows per
    feature (bounded: 50 quantities, 11 discount ticks), then windows
    over those tiny per-feature series. The threshold search never
    re-touches the raw data — the classic one-pass histogram-split of
    distributed decision trees (PLANET, Panda et al., VLDB 2009).
    """
    li = load(spark, sf_dir, "lineitem")
    base = li.select(
        F.expr(
            "stack(2, 'l_quantity', CAST(l_quantity AS BIGINT),"
            " 'l_discount_pct',"
            " CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT))"
        ).alias("feature", "val"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("pos"),
    )
    pv = base.groupBy("feature", "val").agg(
        F.sum("pos").alias("p"), F.sum(1 - F.col("pos")).alias("q")
    )
    wcum = W.partitionBy("feature").orderBy("val")
    wall = W.partitionBy("feature")
    cum = pv.select(
        "feature",
        "val",
        F.sum("p").over(wcum).alias("cp"),
        F.sum("q").over(wcum).alias("cq"),
        F.sum("p").over(wall).alias("tp"),
        F.sum("q").over(wall).alias("tq"),
        F.max("val").over(wall).alias("vmax"),
    )
    sc = cum.filter(F.col("val") < F.col("vmax")).select(
        "feature",
        F.col("val").alias("threshold"),
        (F.col("cp") + F.col("cq")).alias("n_left"),
        (F.col("tp") - F.col("cp") + F.col("tq") - F.col("cq")).alias(
            "n_right"
        ),
        (
            F.least("cp", "cq")
            + F.least(F.col("tp") - F.col("cp"), F.col("tq") - F.col("cq"))
        ).alias("errors"),
        F.least("tp", "tq").alias("baseline_errors"),
        (F.col("tp") + F.col("tq")).alias("n_tot"),
    )
    rk = top_k(
        sc, ["feature"], ["errors", "threshold"], k=STUMP_TOPK, rank_col="rk"
    )
    return rk.select(
        "feature",
        F.col("rk").cast("int"),
        F.col("threshold").cast("long"),
        F.col("n_left").cast("long"),
        F.col("n_right").cast("long"),
        F.col("errors").cast("long"),
        F.col("baseline_errors").cast("long"),
        stable_round4(
            (F.col("n_tot").cast("double") - F.col("errors").cast("double"))
            / F.col("n_tot").cast("double")
        ).alias("accuracy"),
    ).orderBy("feature", "rk")


# --------------------------------------------------------------------------
# ts_theil_sen
# --------------------------------------------------------------------------


def _median_center_avg(vals: DataFrame, col: str, *ties: str) -> DataFrame:
    """1-row frame ``avg`` = mean of the middle one/two values of the
    ``col`` multiset — the even/odd median as avg(rows with global rank
    in [(m+1)//2, m//2+1]) — computed WITHOUT a global single-task sort
    (round-9, VERDICT r8 #6: ts_theil_sen's |pairs|-sized ORDER BY
    windows were the last data-quadratic single-task sorts in the
    whitelist).

    Selection, not sorting: the values occupying the two central ranks
    depend only on the sorted MULTISET of values, never on how ties are
    ordered, so no global tie-broken row_number is needed. Three bounded
    passes: (1) min/max/count (broadcast 1-row); (2) per-bucket counts
    over <= {B} equal-width value buckets with cumulative offsets via a
    broadcast theta join over the <= {B}-row histogram (the prefix.py
    level-3 shape); (3) a row_number PARTITIONED by bucket inside only
    the bucket(s) straddling the target ranks — every window is
    partitioned and every post-fact relation is bounded by construction.
    Degenerate skew (all values inside one float bucket) degrades to one
    window task over that bucket — exactly the old global sort, never
    worse. Float bucket arithmetic is deterministic IEEE and affects
    WHICH bucket is refined, never the selected values.

    The value multiset is pinned once (ckpt.pin): the three passes
    (min/max/count probe, bucket histogram, within-bucket refine) read
    the checkpointed blocks instead of re-running the caller's upstream
    DAG per pass — for ts_theil_sen that upstream is the quadratic pair
    theta join, which unpinned re-ran three times per median (measured
    6.4 s vs 1.2 s at sf0.1)."""
    from .ckpt import pin

    vals = pin(vals)
    B = 256
    mm = vals.agg(
        F.min(col).alias("_mn"),
        F.max(col).alias("_mx"),
        F.count(F.lit(1)).alias("_m"),
    )
    width = (F.col("_mx") - F.col("_mn")) / F.lit(float(B))
    # Degenerate-width guard (ADVICE r9): the old `_mx <= _mn` test missed
    # widths that are 0.0 by subnormal underflow (_mx > _mn but the /B
    # quotient flushes to zero) or non-finite (±inf endpoints make the
    # span inf, all-inf inputs make it NaN — and Spark's NaN compares
    # GREATER than 0, so `width > 0` alone would not catch it). Any such
    # width would turn (v - mn)/width into inf/NaN, wrap the int cast
    # negative, and break the bucket-order-follows-value-order invariant
    # the rank offsets rely on. Route ALL rows to bucket 0 instead — the
    # documented single-window degradation, never wrong.
    degenerate = (
        F.isnan(width)
        | (width <= F.lit(0.0))
        | (width == F.lit(float("inf")))
    )
    j = vals.join(F.broadcast(mm)).withColumn(
        "_bkt",
        F.when(degenerate, F.lit(0)).otherwise(
            F.least(
                F.floor((F.col(col) - F.col("_mn")) / width).cast("int"),
                F.lit(B - 1),
            )
        ),
    )
    cnts = j.groupBy("_bkt").agg(F.count(F.lit(1)).alias("_c"))
    prev = cnts.select(
        F.col("_bkt").alias("_pb"), F.col("_c").alias("_pc")
    )
    off = (
        cnts.join(F.broadcast(prev), F.col("_pb") < F.col("_bkt"), "left")
        .groupBy("_bkt", "_c")
        .agg(F.coalesce(F.sum("_pc"), F.lit(0)).alias("_off"))
    )
    # target ranks lo..hi (1 or 2 central positions)
    ranked = (
        j.join(F.broadcast(off), "_bkt")
        .withColumn("_lo", F.expr("(_m + 1) DIV 2"))
        .withColumn("_hi", F.expr("_m DIV 2 + 1"))
        # keep only buckets straddling [lo, hi]: off < hi and off+c >= lo
        .filter(
            (F.col("_off") < F.col("_hi"))
            & ((F.col("_off") + F.col("_c")) >= F.col("_lo"))
        )
        .withColumn(
            "_rn",
            F.col("_off")
            + F.count(F.lit(1)).over(
                W.partitionBy("_bkt")
                .orderBy(col, *ties)
                .rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
        .filter(
            (F.col("_rn") >= F.col("_lo")) & (F.col("_rn") <= F.col("_hi"))
        )
    )
    return ranked.agg(F.avg(col).alias("avg"))


# Exact Theil-Sen is O(span²) BY ALGORITHM — a median over ALL pairs —
# so its work is quadratic in the CALENDAR axis no matter how well the
# pair join distributes (VERDICT r9 #4: ~13M pairs at a 10-year weekly
# span is fine; a 100× time axis is 10,000× pairs, not fine). The exact
# form therefore fails FAST past this bound instead of launching a
# multi-billion-pair join: 8192 weeks (~157 years weekly / ~22 years
# daily) caps the pair relation at ~33.5M rows — comfortably distributed.
# Longer spans use ts_theil_sen_sampled below, whose per-week hash draws
# are O(span·K), never O(span²).
TS_SEN_MAX_WEEKS = 8192
# Draws per week for the sampled estimator: each week proposes K md5-
# derived partners, so the slope sample holds ≤ span·K/… unique pairs
# (~2% of all pairs at the fixture's ~370-week span, 100% coverage never
# needed — the sampled median's breakdown point degrades gracefully and
# the estimate concentrates at O(1/sqrt(span·K))).
TS_SEN_K = 64


def _order_week_series(
    spark: SparkSession, sf_dir: str, max_weeks: int | None = None
) -> DataFrame:
    """The dense (w, c) weekly order-count series shared by both
    Theil-Sen forms, pinned (ckpt.pin) so the pair join, both medians'
    probes and the residual branch re-read ~|weeks| checkpointed rows
    instead of re-scanning the orders fact per pass. ``max_weeks`` weaves
    an assert_true into the needed wmax column (never an eager .count()
    guard — that would double the source scan, CLAUDE.md perf trap) so
    the exact form fails fast past its documented O(span²) bound."""
    from .ckpt import pin

    o = load(spark, sf_dir, "orders")
    d0 = o.agg(F.min("o_orderdate").alias("d0"))
    wk = (
        o.crossJoin(F.broadcast(d0))
        .select(
            F.floor(F.datediff(F.col("o_orderdate"), F.col("d0")) / 7)
            .cast("long")
            .alias("w")
        )
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    wmax_col = F.col("wmax")
    if max_weeks is not None:
        # coalesce(assert_true(..).cast, wmax) — NOT when(assert.isNull(),
        # wmax).otherwise(wmax): equal-branch CaseWhens get simplified to
        # the branch value, silently deleting the assert (measured: the
        # when-shape optimized to a bare Project)
        wmax_col = F.coalesce(
            F.assert_true(
                F.col("wmax") < F.lit(max_weeks),
                F.concat(
                    F.lit(
                        "ts_theil_sen: exact all-pairs Theil-Sen is "
                        "capped at "
                    ),
                    F.lit(str(max_weeks)),
                    F.lit(" weeks (O(span^2) pairs); series spans "),
                    (F.col("wmax") + 1).cast("string"),
                    F.lit(
                        " weeks — use ts_theil_sen_sampled for long spans"
                    ),
                ),
            ).cast("long"),
            F.col("wmax"),
        )
    wmax = wk.agg(F.max("w").alias("wmax"))
    grid = wmax.select(
        F.explode(F.sequence(F.lit(0).cast("long"), wmax_col)).alias("w")
    )
    return pin(
        grid.join(wk, "w", "left").select(
            "w", F.coalesce("c", F.lit(0)).alias("c")
        )
    )


@register(
    "ts_theil_sen",
    oracle=f"""
    WITH d0 AS (SELECT min(o_orderdate) AS d0 FROM orders),
    wk AS (
        SELECT CAST(floor(date_diff('day', d0.d0, o_orderdate) / 7)
                    AS BIGINT) AS w, count(*) AS c
        FROM orders CROSS JOIN d0 GROUP BY 1),
    grid AS (
        SELECT unnest(generate_series(0, (SELECT max(w) FROM wk))) AS w),
    series AS (
        SELECT g.w, COALESCE(wk.c, 0) AS c
        FROM grid g LEFT JOIN wk ON wk.w = g.w),
    pairs AS (
        SELECT b.c - a.c AS num, b.w - a.w AS den,
               CAST(b.c - a.c AS DOUBLE) / CAST(b.w - a.w AS DOUBLE)
                   AS slope
        FROM series a JOIN series b ON b.w > a.w),
    m AS (SELECT count(*) AS m FROM pairs),
    ps AS (
        SELECT slope,
               row_number() OVER (ORDER BY slope, num, den) AS rn
        FROM pairs),
    med AS (
        SELECT avg(slope) AS slope_med FROM ps CROSS JOIN m
        WHERE rn BETWEEN (m + 1) // 2 AND m // 2 + 1),
    sl AS (SELECT {sql_stable_round4('slope_med')} AS slope FROM med),
    resid AS (
        SELECT s.c - sl.slope * s.w AS r, s.w,
               row_number() OVER (
                   ORDER BY s.c - sl.slope * s.w, s.w) AS rn
        FROM series s CROSS JOIN sl),
    nw AS (SELECT count(*) AS nw FROM series),
    icept AS (
        SELECT avg(r) AS icept FROM resid CROSS JOIN nw
        WHERE rn BETWEEN (nw + 1) // 2 AND nw // 2 + 1)
    SELECT CAST(nw.nw AS BIGINT) AS n_weeks,
           CAST(m.m AS BIGINT) AS n_pairs,
           sl.slope AS slope,
           {sql_stable_round4('icept.icept')} AS intercept
    FROM nw CROSS JOIN m CROSS JOIN sl CROSS JOIN icept
    """,
)
def ts_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of the weekly order-count series: the
    median of all pairwise slopes (c_j - c_i)/(w_j - w_i), plus the
    median-residual intercept — a slope estimate with a 29.3% breakdown
    point, immune to the outlier weeks that would drag the OLS line of
    ml_linreg_normal_eq.

    Determinism: each slope is ONE IEEE division of exact integers
    (< 2^53), which is correctly rounded and therefore bit-identical in
    both engines; the median sort tie-breaks through (slope, num, den).
    The even/odd median is avg(rows rn in [(m+1)//2, m//2+1]) — one or
    two rows, the same arithmetic everywhere. The intercept reuses the
    ROUNDED slope so both engines subtract the identical double.

    Scale shape (round-9, VERDICT r8 #6): the fact scan reduces to
    |weeks| rows in one grouped count; the O(weeks^2) pair relation
    (~60k pairs for 7 years; quadratic in the CALENDAR axis by
    algorithm — exact Theil-Sen is a median over all pairs — never in
    fact rows) is a distributed broadcast theta join, and both medians
    now run through _median_center_avg's bucketed exact selection, so
    NO single-task sort of the pair multiset remains (the former
    |pairs|-sized global row_number windows were the whitelist's last
    data-quadratic single tasks). Daily resolution at a 10-year span is
    ~6.6M pairs: distributed fine through the theta join, selected fine
    through the 256-bucket histogram.

    Enforced span cap (round-10, VERDICT r9 #4): the quadratic is in the
    TIME axis, so it survives any fact-row scale-up but not a 100×
    calendar span. An assert_true woven into the wmax column fails the
    exact form fast past TS_SEN_MAX_WEEKS (= 8192, ~33.5M pairs) instead
    of launching a 10^9-pair join; ts_theil_sen_sampled is the unbounded-
    span path (O(span·K) hash-drawn pairs, never O(span²)).
    """
    series = _order_week_series(spark, sf_dir, max_weeks=TS_SEN_MAX_WEEKS)
    a, b = series.alias("a"), series.alias("b")
    pairs = a.join(b, F.col("b.w") > F.col("a.w")).select(
        (F.col("b.c") - F.col("a.c")).alias("num"),
        (F.col("b.w") - F.col("a.w")).alias("den"),
        (
            (F.col("b.c") - F.col("a.c")).cast("double")
            / (F.col("b.w") - F.col("a.w")).cast("double")
        ).alias("slope"),
    )
    m = pairs.agg(F.count("*").alias("m"))
    med = _median_center_avg(pairs, "slope", "num", "den")
    sl = med.select(stable_round4(F.col("avg")).alias("slope"))
    resid = series.crossJoin(F.broadcast(sl)).select(
        (F.col("c") - F.col("slope") * F.col("w")).alias("r"), "w"
    )
    nw = series.agg(F.count("*").alias("nw"))
    icept = _median_center_avg(resid, "r", "w").select(
        F.col("avg").alias("icept")
    )
    return (
        nw.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(sl))
        .crossJoin(F.broadcast(icept))
        .select(
            F.col("nw").cast("long").alias("n_weeks"),
            F.col("m").cast("long").alias("n_pairs"),
            F.col("slope"),
            stable_round4(F.col("icept")).alias("intercept"),
        )
    )


@register(
    "ts_theil_sen_sampled",
    oracle=f"""
    WITH d0 AS (SELECT min(o_orderdate) AS d0 FROM orders),
    wk AS (
        SELECT CAST(floor(date_diff('day', d0.d0, o_orderdate) / 7)
                    AS BIGINT) AS w, count(*) AS c
        FROM orders CROSS JOIN d0 GROUP BY 1),
    grid AS (
        SELECT unnest(generate_series(0, (SELECT max(w) FROM wk))) AS w),
    series AS (
        SELECT g.w, COALESCE(wk.c, 0) AS c
        FROM grid g LEFT JOIN wk ON wk.w = g.w),
    nw AS (SELECT count(*) AS nw FROM series),
    draws AS (
        SELECT s.w,
               CAST(('0x' || substr(md5(CAST(s.w AS VARCHAR) || '#'
                        || CAST(k.k AS VARCHAR) || '#tsen'), 1, 8))
                    AS BIGINT) % nw.nw AS p
        FROM series s
        CROSS JOIN (SELECT unnest(generate_series(1, {TS_SEN_K})) AS k) k
        CROSS JOIN nw),
    cand AS (
        SELECT DISTINCT least(w, p) AS lo, greatest(w, p) AS hi
        FROM draws WHERE p <> w),
    pairs AS (
        SELECT b.c - a.c AS num, b.w - a.w AS den,
               CAST(b.c - a.c AS DOUBLE) / CAST(b.w - a.w AS DOUBLE)
                   AS slope
        FROM cand JOIN series a ON a.w = cand.lo
                  JOIN series b ON b.w = cand.hi),
    m AS (SELECT count(*) AS m FROM pairs),
    ps AS (
        SELECT slope,
               row_number() OVER (ORDER BY slope, num, den) AS rn
        FROM pairs),
    med AS (
        SELECT avg(slope) AS slope_med FROM ps CROSS JOIN m
        WHERE rn BETWEEN (m + 1) // 2 AND m // 2 + 1),
    sl AS (SELECT {sql_stable_round4('slope_med')} AS slope FROM med),
    resid AS (
        SELECT s.c - sl.slope * s.w AS r, s.w,
               row_number() OVER (
                   ORDER BY s.c - sl.slope * s.w, s.w) AS rn
        FROM series s CROSS JOIN sl),
    icept AS (
        SELECT avg(r) AS icept FROM resid CROSS JOIN nw
        WHERE rn BETWEEN (nw + 1) // 2 AND nw // 2 + 1)
    SELECT CAST(nw.nw AS BIGINT) AS n_weeks,
           CAST(m.m AS BIGINT) AS n_pairs_sampled,
           sl.slope AS slope,
           {sql_stable_round4('icept.icept')} AS intercept
    FROM nw CROSS JOIN m CROSS JOIN sl CROSS JOIN icept
    """,
)
def ts_theil_sen_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-slopes Theil-Sen — the unbounded-span estimator behind
    ts_theil_sen's TS_SEN_MAX_WEEKS cap (round-10, VERDICT r9 #4): exact
    Theil-Sen's all-pairs median is O(span²) work by algorithm, so a
    100× calendar axis means 10,000× pairs no matter how the join
    distributes. Here each week proposes TS_SEN_K deterministic partners
    (md5 of "w#k#tsen" mod |weeks| — the engine-exact hash_bucket
    mechanism from sampling.py, never rand()), giving O(span·K) draws,
    deduped to unique (lo, hi) pairs; the slope median and the median-
    residual intercept then run on the sample through the same
    _median_center_avg partitioned selection as the exact form.

    Determinism and the oracle: both engines draw the IDENTICAL pair set
    (md5 of the same string, same modulo), so this is hash-exact — the
    oracle re-derives the sample, not just the shape. Estimator quality:
    the sampled median of pairwise slopes concentrates around the exact
    Theil-Sen slope at O(1/sqrt(span·K)) (Matoušek-style randomized
    selection; measured at sf0.01: exact slope 0.0 vs sampled 0.0048 on
    a ~44-orders/week level — 18,182 sampled of 58,996 pairs — and on a
    synthetic slope-2 series with outlier weeks the sampled median
    recovers the exact value, pinned by tests/test_statsml2.py).
    Breakdown degrades gracefully: each week contributes ≥K draws, so a
    corrupted week still influences only its own pairs."""
    series = _order_week_series(spark, sf_dir)
    nw = series.agg(F.count("*").alias("nw"))
    ks = spark.range(1, TS_SEN_K + 1).select(
        F.col("id").cast("int").alias("k")
    )
    draws = (
        series.crossJoin(F.broadcast(ks))
        .crossJoin(F.broadcast(nw))
        .select(
            "w",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("w").cast("string"),
                                F.lit("#"),
                                F.col("k").cast("string"),
                                F.lit("#tsen"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % F.col("nw")
            ).alias("p"),
        )
    )
    cand = (
        draws.filter(F.col("p") != F.col("w"))
        .select(
            F.least("w", "p").alias("lo"),
            F.greatest("w", "p").alias("hi"),
        )
        .distinct()
    )
    s1 = series.select(F.col("w").alias("lo"), F.col("c").alias("c_lo"))
    s2 = series.select(F.col("w").alias("hi"), F.col("c").alias("c_hi"))
    pairs = (
        cand.join(F.broadcast(s1), "lo")
        .join(F.broadcast(s2), "hi")
        .select(
            (F.col("c_hi") - F.col("c_lo")).alias("num"),
            (F.col("hi") - F.col("lo")).alias("den"),
            (
                (F.col("c_hi") - F.col("c_lo")).cast("double")
                / (F.col("hi") - F.col("lo")).cast("double")
            ).alias("slope"),
        )
    )
    m = pairs.agg(F.count("*").alias("m"))
    med = _median_center_avg(pairs, "slope", "num", "den")
    sl = med.select(stable_round4(F.col("avg")).alias("slope"))
    resid = series.crossJoin(F.broadcast(sl)).select(
        (F.col("c") - F.col("slope") * F.col("w")).alias("r"), "w"
    )
    icept = _median_center_avg(resid, "r", "w").select(
        F.col("avg").alias("icept")
    )
    return (
        nw.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(sl))
        .crossJoin(F.broadcast(icept))
        .select(
            F.col("nw").cast("long").alias("n_weeks"),
            F.col("m").cast("long").alias("n_pairs_sampled"),
            F.col("slope"),
            stable_round4(F.col("icept")).alias("intercept"),
        )
    )


# --------------------------------------------------------------------------
# ts_cross_correlation
# --------------------------------------------------------------------------

CCF_MAX_LAG = 7
CCF_A, CCF_B = "click", "purchase"

# r_l = sum_t (n*a_t - SA)(n*b_{t+l} - SB) / (sqrt(da) * sqrt(db)):
# integer numerator, two correctly-rounded sqrts of exact integers.
_CCF = (
    "CAST(nn AS DOUBLE)"
    " / nullif(sqrt(CAST(da AS DOUBLE)) * sqrt(CAST(db AS DOUBLE)), 0.0)"
)


@register(
    "ts_cross_correlation",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
               count(*) AS c
        FROM events WHERE event_type IN ('{CCF_A}', '{CCF_B}')
        GROUP BY 1, 2),
    bounds AS (
        SELECT min(d) AS d0, max(d) AS d1
        FROM (SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS d
              FROM events)),
    grid AS (
        SELECT unnest(generate_series(
                   0, CAST(date_diff('day', d0, d1) AS INT))) AS idx
        FROM bounds),
    di AS (
        SELECT event_type,
               CAST(date_diff('day', b.d0, daily.d) AS INT) AS idx, c
        FROM daily CROSS JOIN bounds b),
    sa AS (
        SELECT g.idx, COALESCE(di.c, 0) AS x FROM grid g
        LEFT JOIN di ON di.idx = g.idx AND di.event_type = '{CCF_A}'),
    sb AS (
        SELECT g.idx, COALESCE(di.c, 0) AS x FROM grid g
        LEFT JOIN di ON di.idx = g.idx AND di.event_type = '{CCF_B}'),
    st AS (
        SELECT (SELECT count(*) FROM sa) AS n,
               (SELECT sum(x) FROM sa) AS sxa,
               (SELECT sum(x) FROM sb) AS sxb),
    den AS (
        SELECT (SELECT sum((st.n * x - st.sxa) * (st.n * x - st.sxa))
                FROM sa) AS da,
               (SELECT sum((st.n * x - st.sxb) * (st.n * x - st.sxb))
                FROM sb) AS db
        FROM st),
    lags AS (SELECT l FROM generate_series(-{CCF_MAX_LAG}, {CCF_MAX_LAG}) t(l)),
    num AS (
        SELECT lags.l,
               sum((st.n * a.x - st.sxa) * (st.n * b.x - st.sxb)) AS nn,
               count(*) AS n_overlap
        FROM sa a CROSS JOIN lags
        JOIN sb b ON b.idx = a.idx + lags.l
        CROSS JOIN st GROUP BY lags.l)
    SELECT CAST(num.l AS INT) AS lag,
           CAST(num.n_overlap AS BIGINT) AS n_overlap,
           {sql_stable_round4(_CCF)} AS ccf
    FROM num CROSS JOIN den
    ORDER BY lag
    """,
)
def ts_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation between the daily '{CCF_A}' and '{CCF_B}'
    event series at lags -{CCF_MAX_LAG}..+{CCF_MAX_LAG}: ccf(l) > 0 at
    positive l means {CCF_A} activity LEADS {CCF_B} activity by l days
    — the lead/lag detector behind attribution (events_attribution_*)
    and the bivariate sibling of ts_autocorr's seasonality probe.

    Both series are gap-filled on the same day grid (a missing day is a
    real zero); normalization uses full-series moments, so the centered
    cross-products (n*a - SA)(n*b - SB) are exact integers and the only
    floating steps are two correctly-rounded sqrts and one division,
    shared verbatim with the oracle.

    Scale shape: identical to ts_autocorr — the fact scan reduces to
    2*|days| rows; the 15-lag shifted join runs on that bounded series.
    """
    e = load(spark, sf_dir, "events")
    daily = (
        e.filter(F.col("event_type").isin(CCF_A, CCF_B))
        .groupBy(
            "event_type", F.date_trunc("day", F.col("ts")).alias("d")
        )
        .agg(F.count("*").alias("c"))
    )
    bounds = e.agg(
        F.min(F.date_trunc("day", F.col("ts"))).alias("d0"),
        F.max(F.date_trunc("day", F.col("ts"))).alias("d1"),
    )
    grid = bounds.select(
        F.explode(
            F.sequence(F.lit(0), F.datediff(F.col("d1"), F.col("d0")))
        ).alias("idx")
    )
    di = daily.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.datediff(F.col("d"), F.col("d0")).cast("int").alias("idx"),
        "c",
    )

    def side(tag: str) -> DataFrame:
        return grid.join(
            di.filter(F.col("event_type") == tag).select("idx", "c"),
            "idx",
            "left",
        ).select("idx", F.coalesce("c", F.lit(0)).alias("x"))

    sa, sb = side(CCF_A), side(CCF_B)
    st = (
        sa.agg(
            F.count("*").alias("n"), F.sum("x").alias("sxa")
        )
        .crossJoin(sb.agg(F.sum("x").alias("sxb")))
    )
    da = sa.crossJoin(F.broadcast(st)).agg(
        F.sum(
            (F.col("n") * F.col("x") - F.col("sxa"))
            * (F.col("n") * F.col("x") - F.col("sxa"))
        ).alias("da")
    )
    db = sb.crossJoin(F.broadcast(st)).agg(
        F.sum(
            (F.col("n") * F.col("x") - F.col("sxb"))
            * (F.col("n") * F.col("x") - F.col("sxb"))
        ).alias("db")
    )
    lags = spark.range(-CCF_MAX_LAG, CCF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("l")
    )
    num = (
        sa.alias("a")
        .crossJoin(F.broadcast(lags))
        .join(sb.alias("b"), F.col("b.idx") == F.col("a.idx") + F.col("l"))
        .crossJoin(F.broadcast(st))
        .groupBy("l")
        .agg(
            F.sum(
                (F.col("n") * F.col("a.x") - F.col("sxa"))
                * (F.col("n") * F.col("b.x") - F.col("sxb"))
            ).alias("nn"),
            F.count("*").alias("n_overlap"),
        )
    )
    return (
        num.crossJoin(F.broadcast(da))
        .crossJoin(F.broadcast(db))
        .select(
            F.col("l").cast("int").alias("lag"),
            F.col("n_overlap").cast("long"),
            stable_round4(F.expr(_CCF)).alias("ccf"),
        )
        .orderBy("lag")
    )


# --------------------------------------------------------------------------
# rec_item_item_cosine
# --------------------------------------------------------------------------

REC_TOPK = 3
REC_MIN_CO = 2


@register(
    "rec_item_item_cosine",
    oracle=f"""
    WITH bi AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                FROM lineitem),
    ci AS (SELECT pk, count(*) AS c FROM bi GROUP BY 1),
    pr AS (
        SELECT a.pk AS pa, b.pk AS pb, count(*) AS cij
        FROM bi a JOIN bi b ON a.ok = b.ok AND a.pk <> b.pk
        GROUP BY 1, 2 HAVING count(*) >= {REC_MIN_CO}),
    sc AS (
        SELECT pr.pa, pr.pb, pr.cij,
               CAST(pr.cij AS DOUBLE)
                   / sqrt(CAST(ca.c * cb.c AS DOUBLE)) AS cosv
        FROM pr JOIN ci ca ON ca.pk = pr.pa
                JOIN ci cb ON cb.pk = pr.pb),
    rk AS (
        SELECT *, row_number() OVER (
                   PARTITION BY pa
                   ORDER BY cosv DESC, cij DESC, pb) AS rk
        FROM sc)
    SELECT CAST(pa AS BIGINT) AS part, CAST(rk AS INT) AS rk,
           CAST(pb AS BIGINT) AS neighbor,
           CAST(cij AS BIGINT) AS co_count,
           {sql_stable_round4('cosv')} AS cosine
    FROM rk WHERE rk <= {REC_TOPK}
    ORDER BY part, rk
    """,
)
def rec_item_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: top-{REC_TOPK} cosine
    neighbors per part from co-purchase baskets (cos = c_ij /
    sqrt(c_i * c_j) over binary order-part incidence), support floor
    c_ij >= {REC_MIN_CO} — the 'customers who bought X also bought Y'
    primitive (Sarwar et al., WWW 2001).

    Determinism of the DESC-cosine ranking: cos is one division of
    c_ij by the correctly-rounded sqrt of an exact integer product
    (< 2^53), so both engines materialize the identical double; ties
    then fall through (cij DESC, pb ASC).

    Scale shape: candidate pairs come from the basket self-join on the
    ORDER KEY — cost is sum of basket-size^2 (TPC-H baskets <= 7 lines,
    web baskets similarly bounded), LINEAR in orders, never the |items|^2
    cross of naive item-item. The c_i vector is a part-keyed aggregate
    joined back by part key; the support floor prunes the long tail
    before the per-item top-k window.
    """
    li = load(spark, sf_dir, "lineitem")
    # The binary incidence table feeds FOUR plan references (both sides
    # of the basket self-join and both c_i lookups) — persist it once or
    # the distinct-shuffle over the fact table executes four times.
    bi = (
        li.select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
        )
        .distinct()
        .persist()
    )
    ci = bi.groupBy("pk").agg(F.count("*").alias("c"))
    a, b = bi.alias("a"), bi.alias("b")
    pr = (
        a.join(
            b,
            (F.col("a.ok") == F.col("b.ok"))
            & (F.col("a.pk") != F.col("b.pk")),
        )
        .groupBy(
            F.col("a.pk").alias("pa"), F.col("b.pk").alias("pb")
        )
        .agg(F.count("*").alias("cij"))
        .filter(F.col("cij") >= REC_MIN_CO)
    )
    sc = (
        pr.join(ci.withColumnRenamed("pk", "pa").withColumnRenamed("c", "ca"), "pa")
        .join(ci.withColumnRenamed("pk", "pb").withColumnRenamed("c", "cb"), "pb")
        .select(
            "pa",
            "pb",
            "cij",
            (
                F.col("cij").cast("double")
                / F.sqrt((F.col("ca") * F.col("cb")).cast("double"))
            ).alias("cosv"),
        )
    )
    rk = top_k(
        sc,
        ["pa"],
        [F.col("cosv").desc(), F.col("cij").desc(), F.col("pb")],
        k=REC_TOPK,
        rank_col="rk",
    )
    return rk.select(
        F.col("pa").cast("long").alias("part"),
        F.col("rk").cast("int"),
        F.col("pb").cast("long").alias("neighbor"),
        F.col("cij").cast("long").alias("co_count"),
        stable_round4(F.col("cosv")).alias("cosine"),
    ).orderBy("part", "rk")


# --------------------------------------------------------------------------
# priv_dp_counts
# --------------------------------------------------------------------------

DP_EPSILON = 1.0
DP_DOMAIN = float(16**12)

# Inverse-CDF Laplace(b = 1/eps) driven by the 48-bit md5 uniform:
# u = h/D - 0.5 in [-0.5, 0.5); noise = -b * sign(u) * ln(1 - 2|u|).
# The single libm ln is quantized with a midpoint offset (floor(x*1e6
# + 0.5)/1e6) so a JVM-vs-libm ulp cannot flip the 4-decimal output
# (the guard band ADVICE.md r3 recommends for quantized libm terms).
_DP_NOISE = (
    f"(CASE WHEN u >= 0.0 THEN -1.0 ELSE 1.0 END * (1.0 / {DP_EPSILON!r})"
    f" * floor(ln(CASE WHEN 1.0 - 2.0 * abs(u) > 1e-12"
    f" THEN 1.0 - 2.0 * abs(u) ELSE 1e-12 END) * 1000000.0 + 0.5)"
    f" / 1000000.0)"
)


@register(
    "priv_dp_counts",
    oracle=f"""
    WITH c AS (
        SELECT event_type, count(*) AS true_count FROM events GROUP BY 1),
    h AS (
        SELECT event_type, true_count,
               CAST(list_sum([
                   (strpos('0123456789abcdef',
                           substr(md5(event_type || '|dp1'), i, 1)) - 1)
                   * power(16, 12 - i)
                   for i in generate_series(1, 12)]) AS BIGINT) AS hv
        FROM c),
    u AS (
        SELECT event_type, true_count,
               CAST(hv AS DOUBLE) / {DP_DOMAIN!r} - 0.5 AS u
        FROM h)
    SELECT event_type,
           CAST(true_count AS BIGINT) AS true_count,
           CAST({DP_EPSILON!r} AS DOUBLE) AS epsilon,
           {sql_stable_round4(f'CAST(true_count AS DOUBLE) + {_DP_NOISE}')}
               AS noisy_count
    FROM u
    ORDER BY event_type
    """,
)
def priv_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epsilon-differentially-private release of per-event_type counts
    (Dwork et al., TCC 2006): count + Laplace(sensitivity/eps) noise,
    eps = {DP_EPSILON}, sensitivity 1 for a single-count release.

    The noise is drawn by inverse-CDF from a DETERMINISTIC uniform (the
    48-bit md5 prefix of the group key + a release salt) rather than an
    RNG: the release is reproducible and oracle-testable, and swapping
    the salt per release restores the fresh-draw semantics. This is the
    release half of the privacy-audit family — dq_k_anonymity /
    dq_l_diversity / dq_t_closeness measure disclosure risk,
    priv_dp_counts bounds it mechanically.

    Determinism: the uniform is exact-integer-derived; the one libm ln
    term is quantized with a midpoint offset before the b-scale, so the
    4-decimal output cannot flip on a JVM-vs-libm ulp. Scale shape: one
    grouped count; the noise is a per-GROUP scalar expression — released
    aggregates are tiny regardless of fact-table size.
    """
    e = load(spark, sf_dir, "events")
    c = e.groupBy("event_type").agg(F.count("*").alias("true_count"))
    u = c.withColumn(
        "u",
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("event_type"), F.lit("|dp1"))), 1, 12
            ),
            16,
            10,
        ).cast("long")
        .cast("double")
        / F.lit(DP_DOMAIN)
        - 0.5,
    )
    return u.select(
        "event_type",
        F.col("true_count").cast("long"),
        F.lit(DP_EPSILON).alias("epsilon"),
        stable_round4(
            F.col("true_count").cast("double") + F.expr(_DP_NOISE)
        ).alias("noisy_count"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# ml_lift_gains
# --------------------------------------------------------------------------

LIFT_DECILES = 10


@register(
    "ml_lift_gains",
    oracle=f"""
    WITH base AS (
        SELECT o_orderkey,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos,
               CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        FROM orders),
    r AS (
        SELECT pos,
               row_number() OVER (ORDER BY cents DESC, o_orderkey) AS rn,
               count(*) OVER () AS n, sum(pos) OVER () AS p
        FROM base),
    b AS (
        SELECT CAST((rn - 1) * {LIFT_DECILES} // n AS INT) + 1 AS decile,
               pos, n, p
        FROM r),
    g AS (
        SELECT decile, n, p, count(*) AS n_b, sum(pos) AS pos_b
        FROM b GROUP BY 1, 2, 3),
    c AS (
        SELECT decile, n, p, n_b, pos_b,
               sum(n_b) OVER (ORDER BY decile) AS cum_n,
               sum(pos_b) OVER (ORDER BY decile) AS cum_pos
        FROM g)
    SELECT CAST(decile AS INT) AS decile,
           CAST(n_b AS BIGINT) AS n_bucket,
           CAST(pos_b AS BIGINT) AS n_pos,
           {sql_stable_round4(
               'CAST(cum_pos AS DOUBLE) / CAST(p AS DOUBLE)')} AS gain,
           {sql_stable_round4(
               'CAST(cum_pos * n AS DOUBLE) / CAST(cum_n * p AS DOUBLE)')}
               AS lift
    FROM c ORDER BY decile
    """,
)
def ml_lift_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains / lift table of o_totalprice as a ranker for the
    o_orderstatus = 'F' label: rank all rows by score descending, cut
    into {LIFT_DECILES} equal deciles, and report per decile the
    cumulative capture rate (gain = cum_pos / P) and lift
    (= capture / depth). The campaign-targeting companion of
    ml_auc_roc — AUC summarizes the whole curve, the lift table says
    what acting on the top k% actually buys.

    Determinism: the decile cut is the INTEGER (rn-1)*{LIFT_DECILES}
    div n over a fully tie-broken row_number (cents DESC, o_orderkey) —
    no percentile doubles anywhere; gains/lift are exact-integer ratios
    divided once. Scale shape (round-8 departition): the global rank is
    off_cnt(cents) + a PARTITIONED within-tie-group window (the lorenz /
    qini machinery, operators/prefix.py), so no single-task sort of the
    fact; the only whole-frame window left is the {LIFT_DECILES}-row
    cumsum over the decile grid.
    """
    o = load(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("pos"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    # round-8 departition: the global row_number over (cents DESC,
    # orderkey) is off_cnt (higher-cents count, from prefix_offsets over
    # DISTINCT cents) + a PARTITIONED within-tie-group window; n/p come
    # from the distinct-value table's 1-row aggregate instead of
    # whole-frame windows. The within-group numbering is still needed —
    # a decile boundary can split a tie group whose rows differ in pos.
    from .prefix import prefix_offsets

    vals = base.groupBy("cents").agg(
        F.count("*").alias("cnt"), F.sum("pos").alias("pos_c")
    )
    offs = prefix_offsets(vals, "cents", ["cnt", "pos_c"], ascending=False)
    r = (
        base.join(
            offs.select(
                "cents",
                "off_cnt",
                F.col("tot_cnt").alias("n"),
                F.col("tot_pos_c").alias("p"),
            ),
            "cents",
        )
        .withColumn(
            # LONG-safe within-tie numbering: count-over-frame, never the
            # IntegerType row_number counter (wraps past 2^31 rows in one
            # cents tie group — a constant promo price at posture)
            "rn_g",
            F.count(F.lit(1)).over(
                W.partitionBy("cents")
                .orderBy("o_orderkey")
                .rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
        .selectExpr("pos", "off_cnt + rn_g AS rn", "n", "p")
    )
    b = r.select(
        (
            F.expr(f"CAST((rn - 1) * {LIFT_DECILES} DIV n AS INT)") + 1
        ).alias("decile"),
        "pos",
        "n",
        "p",
    )
    g = b.groupBy("decile", "n", "p").agg(
        F.count("*").alias("n_b"), F.sum("pos").alias("pos_b")
    )
    c = g.select(
        "decile",
        "n",
        "p",
        "n_b",
        "pos_b",
        F.sum("n_b").over(W.orderBy("decile")).alias("cum_n"),
        F.sum("pos_b").over(W.orderBy("decile")).alias("cum_pos"),
    )
    return c.select(
        F.col("decile").cast("int"),
        F.col("n_b").cast("long").alias("n_bucket"),
        F.col("pos_b").cast("long").alias("n_pos"),
        stable_round4(
            F.col("cum_pos").cast("double") / F.col("p").cast("double")
        ).alias("gain"),
        stable_round4(
            # decimal before the multiply (round-10 overflow sweep):
            # cum_pos*n and cum_n*p are count×count products that wrap
            # LONG at ~3e9 rows each side; DECIMAL(19,0)*LONG is exact
            # and converts to DOUBLE with the same single rounding the
            # DuckDB twin's HUGEINT product gets. 10-row relation.
            (F.col("cum_pos").cast("decimal(19,0)") * F.col("n")).cast(
                "double"
            )
            / (F.col("cum_n").cast("decimal(19,0)") * F.col("p")).cast(
                "double"
            )
        ).alias("lift"),
    ).orderBy("decile")


# --------------------------------------------------------------------------
# ml_ks_statistic
# --------------------------------------------------------------------------


@register(
    "ml_ks_statistic",
    oracle=f"""
    WITH base AS (
        SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos,
               CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        FROM orders),
    g AS (
        SELECT cents, sum(pos) AS p_c, sum(1 - pos) AS q_c
        FROM base GROUP BY 1),
    c AS (
        SELECT cents,
               sum(p_c) OVER (ORDER BY cents) AS cp,
               sum(q_c) OVER (ORDER BY cents) AS cq,
               sum(p_c) OVER () AS p, sum(q_c) OVER () AS q
        FROM g),
    d AS (
        SELECT cents, p, q, abs(cp * q - cq * p) AS dnum,
               row_number() OVER (
                   ORDER BY abs(cp * q - cq * p) DESC, cents) AS rn
        FROM c)
    SELECT CAST(p AS BIGINT) AS n_pos, CAST(q AS BIGINT) AS n_neg,
           CAST(cents AS BIGINT) AS ks_at_cents,
           {sql_stable_round4(
               'CAST(dnum AS DOUBLE) / nullif(CAST(p * q AS DOUBLE), 0.0)')} AS ks
    FROM d WHERE rn = 1
    """,
)
def ml_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov-Smirnov separation of the positive vs negative score
    distributions: KS = max over thresholds of |CDF_pos - CDF_neg|,
    with the achieving threshold — the credit-scoring standard that
    complements ml_auc_roc (AUC integrates separation, KS locates the
    single best operating point).

    Determinism: the CDF gap is the cross-multiplied integer
    |cp*Q - cq*P| (never a float subtraction), the argmax tie-breaks on
    the smaller threshold, and the single division happens after the
    max. Scale shape (round-8 departition): scores collapse to
    distinct-value counts, the CDF prefixes come from prefix_offsets'
    bucketed prefix scan (distinct cents ~ |orders|, so the old ordered
    cumsum window was a data-sized single task), and the argmax is a
    distributed TakeOrderedAndProject top-1 — no unpartitioned window
    at all.
    """
    o = load(spark, sf_dir, "orders")
    base = o.select(
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("pos"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    # round-8 departition: distinct o_totalprice cents ~ |orders| — the
    # ordered cumsum windows and the argmax row_number funneled a
    # data-sized relation through one task. CDF prefixes now come from
    # prefix_offsets (cp = off + own), totals from a broadcast 1-row
    # aggregate, and the argmax is orderBy().limit(1) —
    # TakeOrderedAndProject, a distributed top-1.
    from .prefix import prefix_offsets

    g = base.groupBy("cents").agg(
        F.sum("pos").alias("p_c"), F.sum(1 - F.col("pos")).alias("q_c")
    )
    offs = prefix_offsets(g, "cents", ["p_c", "q_c"], ascending=True)
    c = offs.select(
        "cents",
        F.col("tot_p_c").alias("p"),
        F.col("tot_q_c").alias("q"),
        (F.col("off_p_c") + F.col("p_c")).alias("cp"),
        (F.col("off_q_c") + F.col("q_c")).alias("cq"),
    )
    # DECIMAL cross-multiply (round-10 overflow sweep): cp*Q and cq*P
    # are cumulative-count × total-count products — LONG wraps at ~3e9
    # positives/negatives while the DuckDB twin stays exact in HUGEINT.
    # The decimal argmax ordering is the same total order the exact
    # integers have; the one division still happens after the max.
    d = c.select(
        "cents",
        "p",
        "q",
        F.abs(
            F.col("cp").cast("decimal(19,0)") * F.col("q")
            - F.col("cq").cast("decimal(19,0)") * F.col("p")
        ).alias("dnum"),
    )
    return d.orderBy(F.col("dnum").desc(), F.col("cents")).limit(1).select(
        F.col("p").cast("long").alias("n_pos"),
        F.col("q").cast("long").alias("n_neg"),
        F.col("cents").cast("long").alias("ks_at_cents"),
        stable_round4(
            F.col("dnum").cast("double")
            / F.expr(
                "nullif(CAST(CAST(p AS DECIMAL(19,0)) * q AS DOUBLE), 0.0)"
            )
        ).alias("ks"),
    )


# --------------------------------------------------------------------------
# ml_calibration_bins
# --------------------------------------------------------------------------

CAL_BINS = 10


@register(
    "ml_calibration_bins",
    oracle=f"""
    WITH base AS (
        SELECT o_orderkey,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos,
               CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        FROM orders),
    r AS (
        SELECT pos, rank() OVER (ORDER BY cents) AS rk,
               count(*) OVER () AS n
        FROM base),
    b AS (
        SELECT least(CAST((rk - 1) * {CAL_BINS} // (n - 1) AS INT),
                     {CAL_BINS - 1}) AS bin,
               pos, rk, n
        FROM r),
    g AS (
        SELECT bin, n, count(*) AS n_b, sum(pos) AS pos_b,
               sum(rk - 1) AS srk
        FROM b GROUP BY 1, 2),
    e AS (
        SELECT *, sum(abs(srk - pos_b * (n - 1))) OVER () AS ece_num
        FROM g)
    SELECT CAST(bin AS INT) AS bin,
           CAST(n_b AS BIGINT) AS n_bin,
           {sql_stable_round4(
               'CAST(srk AS DOUBLE) / (CAST(n - 1 AS DOUBLE)'
               ' * CAST(n_b AS DOUBLE))')} AS confidence,
           {sql_stable_round4(
               'CAST(pos_b AS DOUBLE) / CAST(n_b AS DOUBLE)')} AS accuracy,
           {sql_stable_round4(
               'CAST(abs(srk - pos_b * (n - 1)) AS DOUBLE)'
               ' / (CAST(n - 1 AS DOUBLE) * CAST(n_b AS DOUBLE))')} AS gap,
           {sql_stable_round4(
               'CAST(ece_num AS DOUBLE)'
               ' / (CAST(n - 1 AS DOUBLE) * CAST(n AS DOUBLE))')} AS ece
    FROM e ORDER BY bin
    """,
)
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + expected calibration error for the
    percentile-calibrated score: prediction = percent_rank of the score
    (the rank transform IS the calibration map), cut into {CAL_BINS}
    equal-width bins; per bin the mean prediction (confidence) vs the
    empirical positive rate (accuracy), plus the n-weighted ECE
    repeated on every row.

    Every quantity is an exact integer ratio over the common
    denominator (n-1): confidence_b = sum(rank-1) / ((n-1) * n_b),
    |conf - acc| = |sum(rank-1) - pos_b*(n-1)| / ((n-1) * n_b), and
    ECE = sum_b |...| / ((n-1) * n) — the bin cut itself is integer
    (rk-1)*{CAL_BINS} div (n-1). No float enters before the final
    divisions. Scale shape (round-8 departition): the rank transform is
    reconstructed from prefix_offsets over the DISTINCT score values
    (ties share ranks, so rk-1 is exactly the smaller-value count) —
    no single-task sort of the fact anywhere; the only whole-frame
    window left is the ECE sum over the {CAL_BINS}-row grid.
    """
    o = load(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("pos"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    # round-8 departition (the rank-cut family): rank() with ties sharing
    # depends ONLY on cents — rk-1 = #rows with smaller cents = off_cnt
    # from prefix_offsets over the DISTINCT cents values; every row of a
    # cents group shares rk AND bin, so srk = cnt * (rk-1) per group. No
    # unpartitioned fact window anywhere; n comes from the checkpointed
    # distinct-value table, not a whole-frame window.
    from .prefix import prefix_offsets

    vg = base.groupBy("cents").agg(
        F.count("*").alias("cnt"), F.sum("pos").alias("pos_c")
    )
    offs = prefix_offsets(vg, "cents", ["cnt"], ascending=True)
    b = offs.select(
        F.least(
            F.expr(f"CAST(off_cnt * {CAL_BINS} DIV (tot_cnt - 1) AS INT)"),
            F.lit(CAL_BINS - 1),
        ).alias("bin"),
        "cnt",
        "pos_c",
        "off_cnt",
        F.col("tot_cnt").alias("n"),
    )
    # srk stays DECIMAL (round-10 overflow sweep, the brier lesson):
    # the per-bin rank mass is ~n_b*n, past LONG at the 1e10-row
    # posture — the old .cast("long") was a CHECKED cast in Spark 4 and
    # would have crashed there. The calibration-gap diff widens pos_b
    # through DECIMAL(19,0) for the same reason; every downstream read
    # is CAST(... AS DOUBLE), one rounding, same as the DuckDB twin's
    # HUGEINT arithmetic.
    g = b.groupBy("bin", "n").agg(
        F.sum("cnt").alias("n_b"),
        F.sum("pos_c").alias("pos_b"),
        F.sum(F.col("cnt").cast("decimal(38,0)") * F.col("off_cnt")).alias(
            "srk"
        ),
    )
    gap_num = F.abs(
        F.col("srk")
        - F.col("pos_b").cast("decimal(19,0)") * (F.col("n") - 1)
    )
    e = g.withColumn("ece_num", F.sum(gap_num).over(W.partitionBy()))
    nm1 = (F.col("n") - 1).cast("double")
    return e.select(
        F.col("bin").cast("int"),
        F.col("n_b").cast("long").alias("n_bin"),
        stable_round4(
            F.col("srk").cast("double") / (nm1 * F.col("n_b").cast("double"))
        ).alias("confidence"),
        stable_round4(
            F.col("pos_b").cast("double") / F.col("n_b").cast("double")
        ).alias("accuracy"),
        stable_round4(
            gap_num.cast("double")
            / (nm1 * F.col("n_b").cast("double"))
        ).alias("gap"),
        stable_round4(
            F.col("ece_num").cast("double") / (nm1 * F.col("n").cast("double"))
        ).alias("ece"),
    ).orderBy("bin")


# --------------------------------------------------------------------------
# ts_ses_forecast
# --------------------------------------------------------------------------

SES_WINDOW = 20  # truncated smoothing horizon (alpha = 1/2)


@register(
    "ts_ses_forecast",
    oracle=f"""
    WITH daily AS (
        SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS d, count(*) AS c
        FROM events GROUP BY 1),
    bounds AS (SELECT min(d) AS d0, max(d) AS d1 FROM daily),
    grid AS (
        SELECT unnest(generate_series(
                   0, CAST(date_diff('day', d0, d1) AS INT))) AS idx
        FROM bounds),
    di AS (
        SELECT CAST(date_diff('day', b.d0, daily.d) AS INT) AS idx, daily.c
        FROM daily CROSS JOIN bounds b),
    series AS (
        SELECT g.idx, COALESCE(di.c, 0) AS x
        FROM grid g LEFT JOIN di ON di.idx = g.idx),
    sp AS (
        SELECT count(*) AS nn,
               CAST(count(*) * 8 // 10 AS INT) AS t,
               least({SES_WINDOW}, CAST(count(*) * 8 // 10 AS INT)) AS k
        FROM series),
    lvl AS (
        SELECT sum(CASE WHEN s.idx = sp.t - sp.k THEN s.x
                        ELSE s.x * (CAST(1 AS BIGINT)
                                    << (s.idx - (sp.t - sp.k) - 1))
                   END) AS lnum,
               (CAST(1 AS BIGINT) << (sp.k - 1)) AS lden,
               max(CASE WHEN s.idx = sp.t - 1 THEN s.x END) AS last_x
        FROM series s CROSS JOIN sp
        WHERE s.idx >= sp.t - sp.k AND s.idx < sp.t
        GROUP BY sp.k),
    test AS (
        SELECT count(*) AS n_test,
               sum(abs(s.x * lvl.lden - lvl.lnum)) AS err_ses_num,
               sum(abs(s.x - lvl.last_x)) AS err_naive
        FROM series s CROSS JOIN sp CROSS JOIN lvl
        WHERE s.idx >= sp.t)
    SELECT CAST(sp.t AS BIGINT) AS n_train,
           CAST(test.n_test AS BIGINT) AS n_test,
           {sql_stable_round4(
               'CAST(lvl.lnum AS DOUBLE) / CAST(lvl.lden AS DOUBLE)')}
               AS ses_level,
           {sql_stable_round4(
               'CAST(test.err_ses_num AS DOUBLE)'
               ' / (CAST(lvl.lden AS DOUBLE) * CAST(test.n_test AS DOUBLE))')}
               AS mae_ses,
           {sql_stable_round4(
               'CAST(test.err_naive AS DOUBLE) / CAST(test.n_test AS DOUBLE)')}
               AS mae_naive
    FROM sp CROSS JOIN lvl CROSS JOIN test
    """,
)
def ts_ses_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple-exponential-smoothing backtest on the daily event series:
    train on the first 80% of the gap-filled day grid, smooth with
    alpha = 1/2 truncated to the last {SES_WINDOW} train days, forecast
    the constant level over the holdout, and report MAE against both
    the SES level and the naive last-train-value baseline (the model
    ladder above events_seasonal_naive_mae).

    alpha = 1/2 is chosen for EXACTNESS, not just simplicity: the
    weights are powers of two, so level * 2^(k-1) =
    sum x_t * 2^(t - t0 - 1) (+ the oldest term at weight 1) is an
    exact BIGINT — shiftleft in Spark, << in DuckDB — and the holdout
    errors are the cross-multiplied integers |x * 2^(k-1) - lnum|. The
    level is a dyadic rational, exact in a double; one division per
    output column at the end.

    Scale shape: the fact scan collapses to |days| rows; everything
    after (the k-term weighted sum, the holdout MAE) is bounded by
    calendar length, independent of fact bytes.
    """
    e = load(spark, sf_dir, "events")
    daily = (
        e.groupBy(F.date_trunc("day", F.col("ts")).alias("d"))
        .agg(F.count("*").alias("c"))
        # |days|-row frame read by bounds, the grid join and the series:
        # without the cache each consumer re-scans the fact table
        .persist()
    )
    bounds = daily.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    grid = bounds.select(
        F.explode(
            F.sequence(F.lit(0), F.datediff(F.col("d1"), F.col("d0")))
        ).alias("idx")
    )
    di = daily.crossJoin(F.broadcast(bounds)).select(
        F.datediff(F.col("d"), F.col("d0")).cast("int").alias("idx"), "c"
    )
    series = grid.join(di, "idx", "left").select(
        "idx", F.coalesce("c", F.lit(0)).alias("x")
    )
    sp = series.agg(
        F.count("*").alias("nn"),
        F.expr("CAST(count(*) * 8 DIV 10 AS INT)").alias("t"),
        F.least(
            F.lit(SES_WINDOW), F.expr("CAST(count(*) * 8 DIV 10 AS INT)")
        ).alias("k"),
    )
    lvl = (
        series.crossJoin(F.broadcast(sp))
        .filter(
            (F.col("idx") >= F.col("t") - F.col("k"))
            & (F.col("idx") < F.col("t"))
        )
        .groupBy("k")
        .agg(
            F.sum(
                F.when(F.col("idx") == F.col("t") - F.col("k"), F.col("x"))
                .otherwise(
                    F.expr(
                        "x * (shiftleft(CAST(1 AS BIGINT),"
                        " idx - (t - k) - 1))"
                    )
                )
            ).alias("lnum"),
            F.max(
                F.when(F.col("idx") == F.col("t") - 1, F.col("x"))
            ).alias("last_x"),
        )
        .withColumn(
            "lden", F.expr("shiftleft(CAST(1 AS BIGINT), k - 1)")
        )
    )
    test = (
        series.crossJoin(F.broadcast(sp))
        .crossJoin(F.broadcast(lvl))
        .filter(F.col("idx") >= F.col("t"))
        .agg(
            F.count("*").alias("n_test"),
            F.sum(
                F.abs(F.col("x") * F.col("lden") - F.col("lnum"))
            ).alias("err_ses_num"),
            F.sum(F.abs(F.col("x") - F.col("last_x"))).alias("err_naive"),
            F.first("lnum").alias("lnum"),
            F.first("lden").alias("lden"),
        )
    )
    return (
        sp.crossJoin(F.broadcast(test))
        .select(
            F.col("t").cast("long").alias("n_train"),
            F.col("n_test").cast("long"),
            stable_round4(
                F.col("lnum").cast("double") / F.col("lden").cast("double")
            ).alias("ses_level"),
            stable_round4(
                F.col("err_ses_num").cast("double")
                / (
                    F.col("lden").cast("double")
                    * F.col("n_test").cast("double")
                )
            ).alias("mae_ses"),
            stable_round4(
                F.col("err_naive").cast("double")
                / F.col("n_test").cast("double")
            ).alias("mae_naive"),
        )
    )


# --------------------------------------------------------------------------
# agg_theil_index
# --------------------------------------------------------------------------

THEIL_SCALE = 1_000_000_000

# shared per-term expression: ratio = x*n/S (one division of exact
# integers), term = quantized ratio*ln(ratio) with the midpoint offset.
# x*n widens through DECIMAL(19,0) before the multiply (round-10
# overflow sweep): a $100M customer (x=1e10 cents) at the 1e10-customer
# posture puts the LONG product at 1e20 — silent wrap in Spark, ERROR
# in DuckDB; the decimal product is exact in both and rounds to DOUBLE
# once, exactly like the old form wherever it didn't wrap. (19,0)
# because DuckDB binds decimal multiplies at p1+p2 <= 38.
_THEIL_TERM = (
    "floor((CAST(CAST(x AS DECIMAL(19,0)) * n AS DOUBLE)"
    " / CAST(s AS DOUBLE))"
    " * ln(CAST(CAST(x AS DECIMAL(19,0)) * n AS DOUBLE)"
    " / CAST(s AS DOUBLE))"
    f" * {float(THEIL_SCALE)!r} + 0.5)"
)


@register(
    "agg_theil_index",
    oracle=f"""
    WITH rev AS (
        SELECT o_custkey,
               sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS x
        FROM orders GROUP BY 1),
    st AS (SELECT count(*) AS n, sum(x) AS s FROM rev),
    terms AS (
        SELECT {_THEIL_TERM} AS term
        FROM rev CROSS JOIN st),
    agg AS (SELECT sum(term) AS tsum, count(*) AS cnt FROM terms)
    SELECT CAST(st.n AS BIGINT) AS n_customers,
           CAST(st.s AS BIGINT) AS total_cents,
           {sql_stable_round4(
               f'CAST(tsum AS DOUBLE) / (CAST(st.n AS DOUBLE)'
               f' * {float(THEIL_SCALE)!r})')} AS theil_t
    FROM agg CROSS JOIN st
    """,
)
def agg_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of per-customer revenue:
    T = (1/n) * sum_i (x_i/mu) * ln(x_i/mu) — 0 for perfect equality,
    ln(n) for total concentration; the decomposable entropy-based
    companion of agg_gini_revenue (Theil splits additively into
    between-group + within-group, Gini does not).

    Determinism: x_i/mu == x_i*n/S is ONE correctly-rounded division of
    exact integers; each x*ln(x) term is quantized to a
    {THEIL_SCALE}-scaled integer WITH the midpoint offset before the
    order-sensitive sum (the quantize-then-sum discipline, ADVICE r3
    guard band); one double division at the end. Scale shape: one
    grouped sum per customer, one scalar total, one map-side term per
    customer row — a two-aggregate pipeline, no joins on the fact table.
    """
    o = load(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")
        ).alias("x")
    )
    st = rev.agg(F.count("*").alias("n"), F.sum("x").alias("s"))
    terms = rev.crossJoin(F.broadcast(st)).select(
        F.expr(_THEIL_TERM).alias("term"), "n", "s"
    )
    # the quantized terms sum to ~n * T * 1e9 — a LONG accumulator
    # wraps at n >= ~1e9/T customers (the DuckDB twin sums exactly);
    # decimal costs one cast per row on an already map-side pipeline.
    agg = terms.groupBy("n", "s").agg(
        F.sum(F.col("term").cast("decimal(38,0)")).alias("tsum")
    )
    return agg.select(
        F.col("n").cast("long").alias("n_customers"),
        F.col("s").cast("long").alias("total_cents"),
        stable_round4(
            F.col("tsum").cast("double")
            / (F.col("n").cast("double") * F.lit(float(THEIL_SCALE)))
        ).alias("theil_t"),
    )


# --------------------------------------------------------------------------
# agg_bootstrap_ci
# --------------------------------------------------------------------------

BOOT_B = 40  # resamples; 40 * 0.025 = 1 makes the CI ranks exact integers
# Poisson(1) CDF thresholds scaled to the 48-bit hash domain:
# floor(P(X <= k) * 2^48) for k = 0..7 (weights capped at 8; the tail
# beyond 8 has probability < 2^-17). Integer constants, identical in
# both engines — the draw w(u) = #{k: u >= T_k} needs no float at all.
BOOT_T = [
    103548857136060, 207097714272121, 258872142840152, 276130285696162,
    280444821410164, 281307728552965, 281451546410098, 281472091818260,
]

_BOOT_W = " + ".join(
    f"(CASE WHEN hv >= {t} THEN 1 ELSE 0 END)" for t in BOOT_T
)


@register(
    "agg_bootstrap_ci",
    oracle=f"""
    WITH base AS (
        SELECT o_orderkey, o_orderpriority AS segment,
               CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        FROM orders),
    reps AS (
        SELECT segment, cents,
               CAST(list_sum([
                   (strpos('0123456789abcdef',
                           substr(md5(CAST(o_orderkey AS VARCHAR)
                                      || '|' || CAST(b.b AS VARCHAR)
                                      || '|bs1'), i, 1)) - 1)
                   * power(16, 12 - i)
                   for i in generate_series(1, 12)]) AS BIGINT) AS hv,
               b.b AS b
        FROM base CROSS JOIN generate_series(0, {BOOT_B - 1}) b(b)),
    wtd AS (SELECT segment, b, cents, {_BOOT_W} AS w FROM reps),
    bm AS (
        SELECT segment, b,
               CAST(sum(w * cents) AS DOUBLE) / CAST(sum(w) AS DOUBLE)
                   AS mean_b
        FROM wtd GROUP BY 1, 2),
    rk AS (
        SELECT segment, mean_b,
               row_number() OVER (PARTITION BY segment
                                  ORDER BY mean_b, b) AS rn
        FROM bm),
    pick AS (
        SELECT segment,
               max(CASE WHEN rn = {BOOT_B // 40} THEN mean_b END) AS lo,
               max(CASE WHEN rn = {BOOT_B - BOOT_B // 40} THEN mean_b END)
                   AS hi
        FROM rk GROUP BY 1),
    pt AS (
        SELECT segment, count(*) AS n, sum(cents) AS sc
        FROM base GROUP BY 1)
    SELECT pt.segment, CAST(pt.n AS BIGINT) AS n_rows,
           {sql_stable_round4(
               'CAST(pt.sc AS DOUBLE) / CAST(pt.n AS DOUBLE)')}
               AS mean_cents,
           {sql_stable_round4('pick.lo')} AS ci_lo,
           {sql_stable_round4('pick.hi')} AS ci_hi
    FROM pt JOIN pick ON pick.segment = pt.segment
    ORDER BY pt.segment
    """,
)
def agg_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% bootstrap confidence interval for the mean order value per
    priority segment via the POISSON BOOTSTRAP (Chamandy et al., 2012;
    the streaming-friendly resampling of Kleiner et al.'s scalable
    bootstrap): each of {BOOT_B} resamples weights every row by an iid
    Poisson(1) draw, so a resample never needs n or a shuffle of the
    raw data — the single-pass trick that makes bootstrapping possible
    at 100 TB where sample-with-replacement cannot run.

    The draws are DETERMINISTIC: w = #(Poisson CDF thresholds <= the
    48-bit md5 of (orderkey, replicate, salt)), thresholds pre-scaled
    to integers — the whole mechanism is exact integer comparisons, so
    both engines produce identical resamples. Replicate means are one
    exact-int division each; the CI picks ranked replicates 1 and
    {BOOT_B - 1} of {BOOT_B} (2.5% / 97.5% with B chosen so the ranks
    are integers), tie-broken by replicate id.

    Scale shape: the {BOOT_B}x row expansion collapses map-side — the
    partial aggregate reduces to |segments| x {BOOT_B} partial sums
    before any shuffle (kept as an explode + ONE two-level aggregate
    rather than {BOOT_B * 2} aggregate columns, which would blow the
    whole-stage-codegen field budget — CLAUDE.md perf trap).
    """
    o = load(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("segment"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    reps = base.select(
        "segment",
        "cents",
        F.explode(
            F.sequence(F.lit(0), F.lit(BOOT_B - 1))
        ).alias("b"),
        "o_orderkey",
    ).select(
        "segment",
        "cents",
        "b",
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("o_orderkey").cast("string"),
                        F.col("b").cast("string"),
                        F.lit("bs1"),
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("hv"),
    )
    wtd = reps.withColumn("w", F.expr(_BOOT_W))
    bm = wtd.groupBy("segment", "b").agg(
        (
            F.sum(F.col("w") * F.col("cents")).cast("double")
            / F.sum("w").cast("double")
        ).alias("mean_b")
    )
    rk = bm.select(
        "segment",
        "mean_b",
        F.row_number()
        .over(W.partitionBy("segment").orderBy("mean_b", "b"))
        .alias("rn"),
    )
    pick = rk.groupBy("segment").agg(
        F.max(
            F.when(F.col("rn") == BOOT_B // 40, F.col("mean_b"))
        ).alias("lo"),
        F.max(
            F.when(F.col("rn") == BOOT_B - BOOT_B // 40, F.col("mean_b"))
        ).alias("hi"),
    )
    pt = base.groupBy("segment").agg(
        F.count("*").alias("n"), F.sum("cents").alias("sc")
    )
    return (
        pt.join(pick, "segment")
        .select(
            "segment",
            F.col("n").cast("long").alias("n_rows"),
            stable_round4(
                F.col("sc").cast("double") / F.col("n").cast("double")
            ).alias("mean_cents"),
            stable_round4(F.col("lo")).alias("ci_lo"),
            stable_round4(F.col("hi")).alias("ci_hi"),
        )
        .orderBy("segment")
    )
