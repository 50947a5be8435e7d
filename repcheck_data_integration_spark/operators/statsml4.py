"""Causal-inference / one-step-ML extensions (round-4 continuation).

Operators extending the experimentation + closed-form-ML axis opened by
agg_ab_ttest / ml_linreg_normal_eq / ts_ses_forecast, each a pure
DataFrame plan with an exact DuckDB oracle twin (the same tranche adds
text_zipf_fit in textstats.py and graph_bfs_distance in graph.py):

- ml_logreg_newton      one Newton-Raphson step for logistic regression
                        from the zero initialization: at beta = 0 the
                        Hessian is X'X/4 and the gradient X'(y - 1/2),
                        so the step is beta1 = 2 (X'X)^-1 X'u with
                        u = 2y - 1 in {-1, +1} — closed-form via the
                        SAME one-pass sufficient statistics + Cramer
                        3x3 solve as ml_linreg_normal_eq (and exactly
                        the discriminative direction a linear probe
                        would learn), no iterative optimizer needed.
- agg_cuped             CUPED variance-reduced A/B means (Deng et al.,
                        WSDM 2013): pre-period spend as the covariate,
                        pooled theta = cov(x,y)/var(x), per-arm
                        adjusted means and the realized variance-
                        reduction rho^2 — the industry-standard
                        experiment sensitivity boost.
- ts_granger_causality  does the click series Granger-cause the
                        purchase series? Full AR(1)+X model vs
                        restricted AR(1) on the gap-filled daily grid,
                        both fit closed-form from integer sufficient
                        statistics; the R^2 gain of adding lagged
                        clicks is the Granger signal.
- ts_changepoint_binseg single binary-segmentation changepoint over the
                        daily revenue series: the split maximizing the
                        between-segment SSE reduction
                        (S1*n2 - S2*n1)^2 / (n1*n2*n) — every
                        candidate's gain an exact integer ratio, ranked
                        without any floating accumulation.
- rec_slope_one         weighted Slope One rating prediction from the
                        item-item deviation matrix — the rating-valued
                        counterpart of rec_item_item_cosine.

Reference seed: the reference repo's analytics are single-pass SQL
aggregates (/root/reference/scripts/database/database.py:1); these extend
the §2-beyond inventory along the experimentation/causal axis. House
determinism rules (CLAUDE.md): integer arithmetic until one final
division per output column, identical expression strings interpolated
into BOTH engines, stable_round4 on every rational.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import register
from ..functions.exact import scaled_long
from ..tables import load, load_bucketed
from .dedup import sql_stable_round4
from .topk import top_k
from .statsml import _DET, _DET0, _DET1, _DET2

# --------------------------------------------------------------------------
# ml_logreg_newton
# --------------------------------------------------------------------------

# One Newton step from beta = 0: beta1 = 2 (X'X)^-1 X'u, u = 2y - 1.
# Reuses the verbatim Cramer 3x3 strings from ml_linreg_normal_eq by
# aliasing the right-hand side X'u into the (sp, sqp, sdp) slots the
# determinant strings expect.
_NB0 = f"(2.0 * {_DET0} / nullif({_DET}, 0.0))"
_NB1 = f"(2.0 * {_DET1} / nullif({_DET}, 0.0))"
_NB2 = f"(2.0 * {_DET2} / nullif({_DET}, 0.0))"

_LOGREG_STATS_SQL = """
    SELECT CAST(count(*) AS DOUBLE) AS n,
           CAST(sum(CAST(q2 AS HUGEINT)) AS DOUBLE) / 100.0 AS sq,
           CAST(sum(CAST(d2 AS HUGEINT)) AS DOUBLE) / 100.0 AS sd,
           CAST(sum(CAST(u AS HUGEINT)) AS DOUBLE) AS sp,
           CAST(sum(CAST(q2 * q2 AS HUGEINT)) AS DOUBLE) / 10000.0 AS sqq,
           CAST(sum(CAST(q2 * d2 AS HUGEINT)) AS DOUBLE) / 10000.0 AS sqd,
           CAST(sum(CAST(d2 * d2 AS HUGEINT)) AS DOUBLE) / 10000.0 AS sdd,
           CAST(sum(CAST(q2 * u AS HUGEINT)) AS DOUBLE) / 100.0 AS sqp,
           CAST(sum(CAST(d2 * u AS HUGEINT)) AS DOUBLE) / 100.0 AS sdp,
           CAST(sum(CAST((u + 1) / 2 AS HUGEINT)) AS DOUBLE) AS npos
    FROM (SELECT CAST(round(l_quantity * 100, 0) AS BIGINT) AS q2,
                 CAST(round(l_discount * 100, 0) AS BIGINT) AS d2,
                 CASE WHEN l_returnflag = 'R' THEN 1 ELSE -1 END AS u
          FROM lineitem)
"""


@register(
    "ml_logreg_newton",
    oracle=f"""
    WITH st AS ({_LOGREG_STATS_SQL})
    SELECT CAST(n AS BIGINT) AS n_rows,
           CAST(npos AS BIGINT) AS n_pos,
           {sql_stable_round4(_NB0)} AS beta_intercept,
           {sql_stable_round4(_NB1)} AS beta_quantity,
           {sql_stable_round4(_NB2)} AS beta_discount
    FROM st
    """,
)
def ml_logreg_newton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact Newton-Raphson step for the logistic regression
    P(l_returnflag = 'R') ~ l_quantity + l_discount, from the zero
    initialization: there grad = X'(y - 1/2) = X'u / 2 (u = 2y - 1) and
    the Hessian is X'X / 4, so the step is beta1 = 2 (X'X)^-1 X'u —
    closed-form, ONE distributed pass over the fact table for the 3x3
    sufficient statistics, then a Cramer solve on the single stats row
    (the linear probe / first-IRLS-iterate direction; further IRLS
    iterations would need per-row weights and lose closed-form
    exactness, so the one-step estimator is the determinism-friendly
    rung — asymptotically it already points along the MLE direction,
    Le Cam's one-step estimator).

    Determinism: identical to ml_linreg_normal_eq — scaled-integer
    sufficient statistics accumulated in DECIMAL(38)/HUGEINT, unscaled
    by the same literal divisions, and the SAME interpolated Cramer
    strings (imported, not re-derived) evaluated step-for-step on both
    engines; u in {-1, +1} keeps the label cross-moments integral.

    Scale shape: d^2 accumulators in one map-side-combined aggregate —
    the same plan as ml_linreg_normal_eq, optimal at 100 TB.
    """
    li = load(spark, sf_dir, "lineitem").select(
        scaled_long(F.col("l_quantity"), 100).alias("q2"),
        scaled_long(F.col("l_discount"), 100).alias("d2"),
        F.when(F.col("l_returnflag") == "R", F.lit(1))
        .otherwise(F.lit(-1))
        .alias("u"),
    )

    def dsum(expr: str, scale: float) -> F.Column:
        s = F.sum(F.expr(expr).cast("decimal(38,0)")).cast("double")
        return s / F.lit(scale) if scale != 1.0 else s

    st = li.agg(
        F.count("*").cast("double").alias("n"),
        dsum("q2", 100.0).alias("sq"),
        dsum("d2", 100.0).alias("sd"),
        dsum("u", 1.0).alias("sp"),
        dsum("q2 * q2", 10000.0).alias("sqq"),
        dsum("q2 * d2", 10000.0).alias("sqd"),
        dsum("d2 * d2", 10000.0).alias("sdd"),
        dsum("q2 * u", 100.0).alias("sqp"),
        dsum("d2 * u", 100.0).alias("sdp"),
        dsum("(u + 1) div 2", 1.0).alias("npos"),
    )
    return st.selectExpr(
        "CAST(n AS BIGINT) AS n_rows",
        "CAST(npos AS BIGINT) AS n_pos",
        f"CAST({sql_stable_round4(_NB0)} AS DOUBLE) AS beta_intercept",
        f"CAST({sql_stable_round4(_NB1)} AS DOUBLE) AS beta_quantity",
        f"CAST({sql_stable_round4(_NB2)} AS DOUBLE) AS beta_discount",
    )


# --------------------------------------------------------------------------
# agg_cuped
# --------------------------------------------------------------------------

CUPED_SPLIT = "1998-01-01"  # pre-period covariate | post-period outcome

# Pooled regression-adjustment coefficient and its variance-reduction
# share, from exact integer sufficient statistics (cents):
#   theta = (n*Sxy - Sx*Sy) / (n*Sxx - Sx*Sx)      rho2 = theta^2*varx/vary
_CU_THETA = "((n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0.0))"
_CU_RHO2 = (
    "((n * sxy - sx * sy) * (n * sxy - sx * sy)"
    " / nullif((n * sxx - sx * sx) * (n * syy - sy * sy), 0.0))"
)
# Per-arm adjusted mean: mean_y_a - theta * (mean_x_a - pooled mean_x)
_CU_ADJ = f"(ya / na - {_CU_THETA} * (xa / na - sx / n))"

_CUPED_BASE_SQL = f"""
    base AS (
        SELECT o_custkey % 2 AS arm,
               CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '{CUPED_SPLIT}'
                        THEN CAST(round(o_totalprice * 100, 0) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS x,
               CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '{CUPED_SPLIT}'
                        THEN CAST(round(o_totalprice * 100, 0) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS y
        FROM orders GROUP BY o_custkey, o_custkey % 2),
    pooled AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) / 100.0 AS sx,
               CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) / 100.0 AS sy,
               CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) / 10000.0 AS sxx,
               CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE) / 10000.0 AS sxy,
               CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) / 10000.0 AS syy
        FROM base),
    per_arm AS (
        SELECT arm, CAST(count(*) AS DOUBLE) AS na,
               CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) / 100.0 AS xa,
               CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) / 100.0 AS ya
        FROM base GROUP BY arm)
"""


@register(
    "agg_cuped",
    oracle=f"""
    WITH {_CUPED_BASE_SQL}
    SELECT CAST(arm AS BIGINT) AS arm,
           CAST(na AS BIGINT) AS n_users,
           {sql_stable_round4('(ya / na)')} AS mean_y,
           {sql_stable_round4('(xa / na)')} AS mean_x,
           {sql_stable_round4(_CU_THETA)} AS theta,
           {sql_stable_round4(_CU_ADJ)} AS mean_y_cuped,
           {sql_stable_round4(_CU_RHO2)} AS var_reduction
    FROM per_arm CROSS JOIN pooled
    ORDER BY arm
    """,
)
def agg_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced experiment readout (Deng, Xu, Kohavi &
    Walker, WSDM 2013 — the standard sensitivity boost in industrial
    A/B platforms): per-customer PRE-period spend (orders before
    {CUPED_SPLIT}) is the covariate x, POST-period spend the outcome y,
    arms assigned deterministically by customer-key parity. The pooled
    adjustment theta = cov(x,y)/var(x) is estimated once, each arm's
    mean is shifted by -theta*(mean_x_arm - mean_x_pooled), and the
    realized variance reduction is rho^2 — identical arm means move
    closer to truth without touching the unbiased difference.

    Determinism: all six pooled moments are exact HUGEINT/DECIMAL(38)
    sums of per-customer cent totals (products of two < 2^40 cents
    values), unscaled by literal /100, /10000; theta / rho^2 / adjusted
    means are interpolated VERBATIM into both engines and pass through
    stable_round4.

    Scale shape: one customer-keyed aggregate over orders (the shuffle
    carries one row per customer), then a 1-row pooled stats aggregate
    cross-joined to the 2-row per-arm aggregate — the CUPED adjustment
    itself costs nothing beyond the per-user rollup any experiment
    readout already pays.
    """
    o = load(spark, sf_dir, "orders")
    cents = scaled_long(F.col("o_totalprice"), 100)
    split = F.lit(CUPED_SPLIT).cast("timestamp")
    base = (
        o.groupBy((F.col("o_custkey") % 2).alias("arm"), "o_custkey")
        .agg(
            F.sum(
                F.when(F.col("o_orderdate") < split, cents).otherwise(0)
            ).alias("x"),
            F.sum(
                F.when(F.col("o_orderdate") >= split, cents).otherwise(0)
            ).alias("y"),
        )
        # pooled moments + per-arm sums both read it: one shuffle, two
        # tiny aggregates over the cached per-customer frame
        .persist()
    )

    def dsum(expr: str, scale: float) -> F.Column:
        return (
            F.sum(F.expr(expr).cast("decimal(38,0)")).cast("double")
            / F.lit(scale)
        )

    pooled = base.agg(
        F.count("*").cast("double").alias("n"),
        dsum("x", 100.0).alias("sx"),
        dsum("y", 100.0).alias("sy"),
        dsum("x * x", 10000.0).alias("sxx"),
        dsum("x * y", 10000.0).alias("sxy"),
        dsum("y * y", 10000.0).alias("syy"),
    )
    per_arm = base.groupBy("arm").agg(
        F.count("*").cast("double").alias("na"),
        dsum("x", 100.0).alias("xa"),
        dsum("y", 100.0).alias("ya"),
    )
    return (
        per_arm.crossJoin(F.broadcast(pooled))
        .selectExpr(
            "CAST(arm AS BIGINT) AS arm",
            "CAST(na AS BIGINT) AS n_users",
            f"CAST({sql_stable_round4('(ya / na)')} AS DOUBLE) AS mean_y",
            f"CAST({sql_stable_round4('(xa / na)')} AS DOUBLE) AS mean_x",
            f"CAST({sql_stable_round4(_CU_THETA)} AS DOUBLE) AS theta",
            f"CAST({sql_stable_round4(_CU_ADJ)} AS DOUBLE) AS mean_y_cuped",
            f"CAST({sql_stable_round4(_CU_RHO2)} AS DOUBLE)"
            " AS var_reduction",
        )
        .orderBy("arm")
    )


# --------------------------------------------------------------------------
# ts_granger_causality
# --------------------------------------------------------------------------

# Full model p_t ~ 1 + p_{t-1} + c_{t-1} reuses the Cramer 3x3 strings
# with (q -> lagged purchases, d -> lagged clicks, p -> purchases).
# Restricted AR(1) p_t ~ 1 + p_{t-1} in closed form:
_GR_R2_RESTR = (
    "((n * sqp - sq * sp) * (n * sqp - sq * sp)"
    " / nullif((n * sqq - sq * sq) * (n * spp - sp * sp), 0.0))"
)
_GR_R2_FULL = (
    f"(1.0 - (spp - ({_DET0} / nullif({_DET}, 0.0) * sp"
    f" + {_DET1} / nullif({_DET}, 0.0) * sqp"
    f" + {_DET2} / nullif({_DET}, 0.0) * sdp))"
    f" / nullif(spp - sp * sp / n, 0.0))"
)

_GRANGER_SERIES_SQL = """
    daily AS (
        SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS np,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS nc
        FROM events GROUP BY 1),
    bounds AS (SELECT min(d) AS d0, max(d) AS d1 FROM daily),
    grid AS (
        SELECT unnest(generate_series(
                   0, CAST(date_diff('day', d0, d1) AS INT))) AS idx
        FROM bounds),
    di AS (
        SELECT CAST(date_diff('day', b.d0, daily.d) AS INT) AS idx,
               daily.np, daily.nc
        FROM daily CROSS JOIN bounds b),
    series AS (
        SELECT g.idx, COALESCE(di.np, 0) AS np, COALESCE(di.nc, 0) AS nc
        FROM grid g LEFT JOIN di ON di.idx = g.idx),
    rows_t AS (
        SELECT cur.np AS y, prev.np AS a, prev.nc AS b
        FROM series cur JOIN series prev ON prev.idx = cur.idx - 1),
    st AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(a) AS DOUBLE) AS sq,
               CAST(sum(b) AS DOUBLE) AS sd,
               CAST(sum(y) AS DOUBLE) AS sp,
               CAST(sum(a * a) AS DOUBLE) AS sqq,
               CAST(sum(a * b) AS DOUBLE) AS sqd,
               CAST(sum(b * b) AS DOUBLE) AS sdd,
               CAST(sum(a * y) AS DOUBLE) AS sqp,
               CAST(sum(b * y) AS DOUBLE) AS sdp,
               CAST(sum(y * y) AS DOUBLE) AS spp
        FROM rows_t)
"""


@register(
    "ts_granger_causality",
    oracle=f"""
    WITH {_GRANGER_SERIES_SQL}
    SELECT CAST(n AS BIGINT) AS n_days,
           {sql_stable_round4(f'({_DET1} / nullif({_DET}, 0.0))')} AS beta_ar,
           {sql_stable_round4(f'({_DET2} / nullif({_DET}, 0.0))')} AS beta_clicks,
           {sql_stable_round4(_GR_R2_FULL)} AS r2_full,
           {sql_stable_round4(_GR_R2_RESTR)} AS r2_restricted,
           {sql_stable_round4(f'({_GR_R2_FULL} - {_GR_R2_RESTR})')}
               AS granger_gain
    FROM st
    """,
)
def ts_granger_causality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger-causality screen: do yesterday's CLICKS predict today's
    PURCHASES beyond what yesterday's purchases already do? Fits the
    full model p_t ~ 1 + p_(t-1) + c_(t-1) and the restricted AR(1)
    p_t ~ 1 + p_(t-1) closed-form on the gap-filled daily grid and
    reports the R^2 gain of the lagged-click term (Granger 1969; the
    F-statistic is a monotone function of this gain at fixed n, so the
    gain IS the decision quantity).

    Determinism: the series values are integer counts, so all ten
    sufficient statistics are exact integer sums; the full-model
    coefficients and R^2 reuse ml_linreg_normal_eq's VERBATIM Cramer
    strings (imported), the restricted R^2 is the textbook squared-
    correlation ratio — identical expression text on both engines,
    stable_round4 at the end.

    Scale shape: one date-keyed aggregate collapses the event stream to
    the daily grid; the lag self-join and the stats aggregate run on
    the bounded post-agg series (|days| rows), so cost is the single
    fact-table scan regardless of stream size.
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("np"),
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("nc"),
    )
    bounds = daily.agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    )
    grid = bounds.select(
        F.explode(
            F.sequence(F.lit(0), F.datediff("d1", "d0"))
        ).alias("idx"),
        "d0",
    )
    di = daily.join(F.broadcast(bounds)).select(
        F.datediff("d", "d0").alias("idx"), "np", "nc"
    )
    series = (
        grid.join(di, "idx", "left")
        .select(
            "idx",
            F.coalesce("np", F.lit(0)).alias("np"),
            F.coalesce("nc", F.lit(0)).alias("nc"),
        )
    )
    cur, prev = series.alias("cur"), series.alias("prev")
    rows_t = cur.join(
        prev, F.col("prev.idx") == F.col("cur.idx") - 1
    ).select(
        F.col("cur.np").alias("y"),
        F.col("prev.np").alias("a"),
        F.col("prev.nc").alias("b"),
    )
    st = rows_t.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("a").cast("double").alias("sq"),
        F.sum("b").cast("double").alias("sd"),
        F.sum("y").cast("double").alias("sp"),
        F.sum(F.expr("a * a")).cast("double").alias("sqq"),
        F.sum(F.expr("a * b")).cast("double").alias("sqd"),
        F.sum(F.expr("b * b")).cast("double").alias("sdd"),
        F.sum(F.expr("a * y")).cast("double").alias("sqp"),
        F.sum(F.expr("b * y")).cast("double").alias("sdp"),
        F.sum(F.expr("y * y")).cast("double").alias("spp"),
    )
    return st.selectExpr(
        "CAST(n AS BIGINT) AS n_days",
        f"CAST({sql_stable_round4(f'({_DET1} / nullif({_DET}, 0.0))')} AS DOUBLE)"
        " AS beta_ar",
        f"CAST({sql_stable_round4(f'({_DET2} / nullif({_DET}, 0.0))')} AS DOUBLE)"
        " AS beta_clicks",
        f"CAST({sql_stable_round4(_GR_R2_FULL)} AS DOUBLE) AS r2_full",
        f"CAST({sql_stable_round4(_GR_R2_RESTR)} AS DOUBLE)"
        " AS r2_restricted",
        f"CAST({sql_stable_round4(f'({_GR_R2_FULL} - {_GR_R2_RESTR})')}"
        " AS DOUBLE) AS granger_gain",
    )

# --------------------------------------------------------------------------
# ts_changepoint_binseg
# --------------------------------------------------------------------------

# Between-segment SSE reduction of splitting after position t:
#   gain(t) = (S1*n2 - S2*n1)^2 / (n1*n2*n)     (cents^2)
# and its share of the total SSE  svv - s^2/n. Shared final strings:
_CP_GAIN = "(CAST(w2 AS DOUBLE) / CAST(den AS DOUBLE))"
_CP_SST = (
    "(CAST(svv AS DOUBLE)"
    " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
)
_CP_MEAN_L = "(CAST(s1 AS DOUBLE) / CAST(t AS DOUBLE) / 100.0)"
_CP_MEAN_R = (
    "(CAST(s2 AS DOUBLE) / (CAST(n AS DOUBLE) - CAST(t AS DOUBLE)) / 100.0)"
)


@register(
    "ts_changepoint_binseg",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS d,
               CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS v
        FROM orders GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                   sum(CAST(v AS HUGEINT)) AS s,
                   sum(CAST(v AS HUGEINT) * v) AS svv
            FROM daily),
    pre AS (
        SELECT d, row_number() OVER (ORDER BY d) AS t,
               CAST(sum(CAST(v AS HUGEINT)) OVER (
                   ORDER BY d ROWS UNBOUNDED PRECEDING) AS HUGEINT) AS s1
        FROM daily),
    cand AS (
        SELECT p.t, p.d, p.s1, tot.n, tot.s, tot.svv,
               (tot.s - p.s1) AS s2,
               (p.s1 * (tot.n - p.t) - (tot.s - p.s1) * p.t) AS w,
               (p.t * (tot.n - p.t) * tot.n) AS den
        FROM pre p CROSS JOIN tot WHERE p.t < tot.n),
    g AS (SELECT t, d, s1, s2, n, s, svv, den, w * w AS w2 FROM cand),
    rk AS (
        SELECT *, row_number() OVER (
                   ORDER BY {_CP_GAIN} DESC, t) AS rk
        FROM g)
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(t AS BIGINT) AS split_idx,
           d AS last_day_before,
           {sql_stable_round4(_CP_MEAN_L)} AS mean_before,
           {sql_stable_round4(_CP_MEAN_R)} AS mean_after,
           {sql_stable_round4(f'({_CP_GAIN} / {_CP_SST})')} AS gain_share
    FROM rk WHERE rk = 1
    """,
)
def ts_changepoint_binseg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single binary-segmentation changepoint over the daily order-revenue
    series (Scott & Knott 1974 lineage; the recursion step CROPS/PELT
    libraries apply): the split position t maximizing the between-segment
    SSE reduction gain(t) = (S1*n2 - S2*n1)^2 / (n1*n2*n), which equals
    SSE_total - (SSE_left + SSE_right) — found WITHOUT computing any
    per-segment variance, from prefix sums alone.

    Determinism: day revenues are exact cent integers; prefix sums,
    w = S1*n2 - S2*n1 and w^2 stay in HUGEINT/DECIMAL(38) (|w| <= S*n ~
    5.8e14 at sf0.1, w^2 ~ 3.4e29 < 1e38), so every candidate's gain
    numerator/denominator is EXACT; the ranking key is the single double
    division of two exactly-representable-and-identically-rounded
    integers, ties broken by position. stable_round4 on the three
    reported rationals.

    Scale shape: one date-keyed aggregate collapses the fact table to
    |days| rows; the prefix scan and the argmax window run on that
    bounded post-agg series (the ts_ses/holt precedent) — at a truly
    unbounded series the prefix would become the two-level distributed
    scan used by events_late_data_audit / ml_sprt_ab.
    """
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(F.date_trunc("day", "o_orderdate").alias("d")).agg(
        F.sum(scaled_long(F.col("o_totalprice"), 100))
        .cast("long")
        .alias("v")
    ).persist()  # prefix scan + totals both read it: one fact shuffle
    tot = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("v").cast("decimal(38,0)")).alias("s"),
        F.sum(
            (F.col("v").cast("decimal(38,0)") * F.col("v"))
        ).alias("svv"),
    )
    wseq = W.orderBy("d").rowsBetween(W.unboundedPreceding, W.currentRow)
    pre = daily.select(
        "d",
        F.row_number().over(W.orderBy("d")).alias("t"),
        F.sum(F.col("v").cast("decimal(38,0)")).over(wseq).alias("s1"),
    )
    cand = (
        pre.crossJoin(F.broadcast(tot))
        .filter(F.col("t") < F.col("n"))
        .select(
            "t",
            "d",
            "s1",
            "n",
            "s",
            "svv",
            (F.col("s") - F.col("s1")).alias("s2"),
            (
                F.col("s1") * (F.col("n") - F.col("t"))
                - (F.col("s") - F.col("s1")) * F.col("t")
            ).alias("w"),
            (F.col("t") * (F.col("n") - F.col("t")) * F.col("n"))
            .cast("long")
            .alias("den"),
        )
    )
    g = cand.withColumn("w2", F.col("w") * F.col("w"))
    rk = top_k(g, [], [F.expr(_CP_GAIN).desc(), F.col("t")])
    return rk.selectExpr(
        "CAST(n AS BIGINT) AS n_days",
        "CAST(t AS BIGINT) AS split_idx",
        "d AS last_day_before",
        f"CAST({sql_stable_round4(_CP_MEAN_L)} AS DOUBLE) AS mean_before",
        f"CAST({sql_stable_round4(_CP_MEAN_R)} AS DOUBLE) AS mean_after",
        f"CAST({sql_stable_round4(f'({_CP_GAIN} / {_CP_SST})')} AS DOUBLE)"
        " AS gain_share",
    )


# --------------------------------------------------------------------------
# rec_slope_one — weighted Slope One rating prediction
# --------------------------------------------------------------------------

SLOPE1_MIN_CO = 2  # co-rater support floor on the deviation matrix
SLOPE1_PROBE_MAX_CUST = 50  # probe users scored in the registered query
SLOPE1_TOPK = 3


@register(
    "rec_slope_one",
    oracle=f"""
    WITH bi AS (
        SELECT DISTINCT o_custkey AS u, l_partkey AS pk,
                        l_orderkey AS ok
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    r AS (SELECT u, pk, CAST(count(*) AS BIGINT) AS rt
          FROM bi GROUP BY 1, 2),
    dev AS (
        SELECT a.pk AS pj, b.pk AS pi,
               CAST(sum(a.rt - b.rt) AS BIGINT) AS dnum,
               CAST(count(*) AS BIGINT) AS c
        FROM r a JOIN r b ON a.u = b.u AND a.pk <> b.pk
        GROUP BY 1, 2 HAVING count(*) >= {SLOPE1_MIN_CO}),
    probe AS (SELECT * FROM r WHERE u <= {SLOPE1_PROBE_MAX_CUST}),
    cand AS (
        SELECT p.u, d.pj,
               CAST(sum(d.dnum + p.rt * d.c) AS BIGINT) AS num,
               CAST(sum(d.c) AS BIGINT) AS den
        FROM probe p JOIN dev d ON d.pi = p.pk
        WHERE NOT EXISTS (SELECT 1 FROM r rr
                          WHERE rr.u = p.u AND rr.pk = d.pj)
        GROUP BY 1, 2),
    rk AS (
        SELECT u, pj, den,
               CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS score,
               row_number() OVER (
                   PARTITION BY u
                   ORDER BY CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
                            DESC, pj) AS rk
        FROM cand)
    SELECT CAST(u AS BIGINT) AS cust, CAST(rk AS INT) AS rk,
           CAST(pj AS BIGINT) AS part, CAST(den AS BIGINT) AS support,
           {sql_stable_round4('score')} AS pred_rating
    FROM rk WHERE rk <= {SLOPE1_TOPK}
    ORDER BY cust, rk
    """,
)
def rec_slope_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted Slope One rating prediction (Lemire & Maclachlan, SDM
    2005): implicit rating r_ui = purchase frequency (distinct orders of
    customer u containing part i); the item-item deviation matrix holds
    dev(j,i) = sum over co-raters of (r_uj - r_ui) with its co-rater
    count, and the prediction for an unrated item j is
    sum_i(dev(j,i) + r_ui * c_ji) / sum_i c_ji — top-3 recommendations
    per probe customer. The additive counterpart of
    rec_item_item_cosine's multiplicative similarity: Slope One predicts
    a RATING VALUE, not just a neighbor ranking.

    Determinism: ratings and deviations are exact integers end to end
    (num, den < 2^53), the ranking key is the single IEEE division of
    two exactly-represented integers — identical doubles on both
    engines — with ties broken by part key; stable_round4 on the
    reported prediction only.

    Scale shape: the deviation matrix comes from the USER-keyed rating
    self-join — cost is sum over users of (distinct items)^2, linear in
    users for bounded baskets, with the support floor pruning the tail
    before anything downstream; at web scale cap per-user items first
    (the dedup-blocking lesson). Scoring joins the tiny probe set to
    the deviation matrix on the item key and anti-joins already-rated
    items — never an all-pairs stage, and the full user base is scored
    by making probe = r (same plan, one more shuffle).
    """
    # round-10: both fact scans go through the orderkey-bucketed layout —
    # the join, and the (u, pk, ok) distinct right after it (ok ⊆ the
    # grouping set), then run with ZERO exchanges; the old plan paid an
    # exchange for each (plans/r10/rec_slope_one_before.txt: Exchange 11
    # under the distinct plus the broadcast build for the join)
    o = load_bucketed(spark, sf_dir, "orders", "o_orderkey")
    li = load_bucketed(spark, sf_dir, "lineitem", "l_orderkey")
    bi = (
        li.select("l_orderkey", "l_partkey")
        .join(
            o.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("o_custkey").alias("u"),
            F.col("l_partkey").alias("pk"),
            F.col("l_orderkey").alias("ok"),
        )
        .distinct()
    )
    # ratings feed three plan references (both self-join sides + the
    # anti-join) — persist the narrow (u, pk, rt) frame once. ONE
    # user-keyed exchange up front: hash(u) satisfies the (u, pk)
    # aggregate's clustering AND both sides of the user-keyed deviation
    # self-join, which the old plan re-exchanged on u twice (Exchange
    # 18/23 in the before plan)
    r = (
        bi.repartition(F.col("u"))
        .groupBy("u", "pk")
        .agg(F.count("*").cast("long").alias("rt"))
        .persist()
    )
    probe = r.filter(F.col("u") <= SLOPE1_PROBE_MAX_CUST)
    # Scoring-set pushdown (bench-measured 9.5s -> the deviation matrix
    # dominated): only pairs whose ANCHOR item pi is rated by some probe
    # user are ever consumed by the scoring join, so semi-join the b
    # side down to the probe item set BEFORE the pair shuffle. Output-
    # identical (the pruned rows had no consumer); co-rater stats per
    # surviving pair still aggregate over ALL users. Scoring the full
    # user base = drop this semi-join (probe = r), same plan otherwise.
    a = r.alias("a")
    b = r.join(
        F.broadcast(probe.select("pk").distinct()), "pk", "left_semi"
    ).alias("b")
    dev = (
        a.join(b, (F.col("a.u") == F.col("b.u")) & (F.col("a.pk") != F.col("b.pk")))
        .groupBy(F.col("a.pk").alias("pj"), F.col("b.pk").alias("pi"))
        .agg(
            F.sum(F.col("a.rt") - F.col("b.rt")).cast("long").alias("dnum"),
            F.count("*").cast("long").alias("c"),
        )
        .filter(F.col("c") >= SLOPE1_MIN_CO)
    )
    cand = (
        probe.join(dev, probe.pk == dev.pi)
        .join(
            r.select(F.col("u").alias("ru"), F.col("pk").alias("rpk")),
            (F.col("u") == F.col("ru")) & (F.col("pj") == F.col("rpk")),
            "left_anti",
        )
        .groupBy("u", "pj")
        .agg(
            F.sum(F.col("dnum") + F.col("rt") * F.col("c"))
            .cast("long")
            .alias("num"),
            F.sum("c").cast("long").alias("den"),
        )
    )
    score = (F.col("num").cast("double") / F.col("den").cast("double"))
    rk = top_k(
        cand, ["u"], [score.desc(), F.col("pj")], k=SLOPE1_TOPK, rank_col="rk"
    )
    return rk.select(
        F.col("u").cast("long").alias("cust"),
        F.col("rk").cast("int"),
        F.col("pj").cast("long").alias("part"),
        F.col("den").cast("long").alias("support"),
        F.floor(score * 10000.0 + 0.5).cast("double").alias("__tmp"),
    ).select(
        "cust",
        "rk",
        "part",
        "support",
        (F.col("__tmp") / 10000.0).alias("pred_rating"),
    ).orderBy("cust", "rk")
