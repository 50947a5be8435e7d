"""Rank-statistics / concentration extensions (round-4 continuation).

Nonparametric and market-structure analytics completing the
experimentation axis (agg_ab_ttest -> ml_sprt_ab -> agg_cuped), each a
pure DataFrame plan with an exact DuckDB oracle twin (the same tranche
adds graph_degree_assortativity in graph.py):

- ml_spearman_corr    Spearman rank correlation of quantity vs discount
                      with textbook AVERAGE (mid) ranks under ties —
                      computed WITHOUT ranking a single fact row: both
                      columns have bounded alphabets, so mid-ranks come
                      from prefix sums over the value-level marginals
                      and the correlation from the (q, d) joint
                      contingency table. 2x the mid-rank is an integer,
                      so every sufficient statistic is an exact sum.
- ml_mann_whitney_u   Mann-Whitney/Wilcoxon rank-sum test (returned vs
                      kept lineitems over quantity): tie-averaged rank
                      sum, U statistic, and the tie-corrected normal
                      z — again purely from the 50-row value-level
                      table, never a per-row rank.
- agg_anova_oneway    one-way ANOVA F across the five order priorities
                      on order value: between/within sums of squares
                      from per-group integer sufficient statistics;
                      group means quantized by exact integer division
                      (1e-6 cent) so the between-group sum is a sum of
                      DECIMALs, not of order-dependent doubles.
- agg_hhi_concentration  Herfindahl-Hirschman supplier-revenue
                      concentration per nation on the 0..10000 scale —
                      sum of squared shares as an exact integer ratio
                      num/den^2, one division per nation at the end.

Reference seed: the reference repo's analytics are single-pass SQL
aggregates (/root/reference/scripts/database/database.py:1); these extend
the §2-beyond inventory along the nonparametric-testing axis. House
determinism rules (CLAUDE.md): integer arithmetic until one final
division per output column, identical expression strings interpolated
into BOTH engines, stable_round4 on every rational. sqrt is IEEE
correctly-rounded (unlike ln/exp) so sqrt-of-exact-double is safe —
the agg_corr_matrix precedent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import register
from ..functions.exact import scaled_long
from ..tables import load
from .ckpt import pin
from .dedup import sql_stable_round4
from .topk import top_k

# --------------------------------------------------------------------------
# ml_spearman_corr
# --------------------------------------------------------------------------

# Pearson over the doubled mid-ranks (rx2 = 2 * average rank, integer):
# the doubling cancels in the correlation, so rho_s is textbook-exact.
_SP_RHO = (
    "((n * sxy - sx * sy)"
    " / nullif(sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 0.0))"
)

# value-level mid-rank construction shared by both engines: with cum =
# running count through value v and c = count at v, the doubled average
# rank of the tied block is 2*cum - c + 1.
_SPEARMAN_SQL = """
    joint AS (
        SELECT CAST(round(l_quantity, 0) AS BIGINT) AS q,
               CAST(round(l_discount * 100, 0) AS BIGINT) AS d,
               CAST(count(*) AS BIGINT) AS c
        FROM lineitem GROUP BY 1, 2),
    mq AS (
        SELECT q, 2 * sum(cq) OVER (ORDER BY q) - cq + 1 AS rx2
        FROM (SELECT q, sum(c) AS cq FROM joint GROUP BY q)),
    md AS (
        SELECT d, 2 * sum(cd) OVER (ORDER BY d) - cd + 1 AS ry2
        FROM (SELECT d, sum(c) AS cd FROM joint GROUP BY d)),
    st AS (
        SELECT CAST(sum(CAST(c AS HUGEINT)) AS DOUBLE) AS n,
               CAST(sum(CAST(c AS HUGEINT) * rx2) AS DOUBLE) AS sx,
               CAST(sum(CAST(c AS HUGEINT) * ry2) AS DOUBLE) AS sy,
               CAST(sum(CAST(c AS HUGEINT) * rx2 * rx2) AS DOUBLE) AS sxx,
               CAST(sum(CAST(c AS HUGEINT) * rx2 * ry2) AS DOUBLE) AS sxy,
               CAST(sum(CAST(c AS HUGEINT) * ry2 * ry2) AS DOUBLE) AS syy,
               CAST(count(*) AS BIGINT) AS cells
        FROM joint JOIN mq USING (q) JOIN md USING (d))
"""


@register(
    "ml_spearman_corr",
    oracle=f"""
    WITH {_SPEARMAN_SQL}
    SELECT CAST(n AS BIGINT) AS n_rows,
           cells AS n_cells,
           {sql_stable_round4(_SP_RHO)} AS spearman_rho
    FROM st
    """,
)
def ml_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between lineitem quantity and discount
    (Spearman 1904), with the textbook average-rank treatment of ties —
    the monotone-association counterpart of agg_corr_matrix's Pearson
    (rank correlation is what survives heavy-tailed money columns).

    The trick that makes it scale: NO fact row is ever ranked. Both
    columns live on bounded alphabets (50 quantities x 11 discounts),
    so the fact table collapses once into the (q, d) contingency table;
    mid-ranks come from prefix sums over the two marginals (alphabet-
    sized windows) and every Pearson sufficient statistic is a count-
    weighted sum over <= 550 cells. Doubled mid-ranks (2*cum - c + 1)
    are integers, so the sums are exact in DECIMAL(38)/HUGEINT; the
    doubling cancels in the correlation.

    Determinism: exact integer sums -> one rho expression interpolated
    verbatim into both engines; sqrt is IEEE correctly-rounded, so
    sqrt-of-exact-double matches bit-for-bit (agg_corr_matrix
    precedent). stable_round4 on the reported rho.

    Scale shape: one map-side-combined shuffle to the contingency
    table; everything downstream is alphabet-sized. At 100 TB the plan
    cost is exactly one fact scan + one tiny shuffle.
    """
    li = load(spark, sf_dir, "lineitem")
    joint = (
        li.groupBy(
            scaled_long(F.col("l_quantity"), 1).alias("q"),
            scaled_long(F.col("l_discount"), 100).alias("d"),
        )
        .agg(F.count("*").cast("long").alias("c"))
        .persist()  # joint + both marginals read it: one fact shuffle
    )
    mq = (
        joint.groupBy("q")
        .agg(F.sum("c").alias("cq"))
        .select(
            "q",
            (
                2 * F.sum("cq").over(W.orderBy("q"))
                - F.col("cq")
                + 1
            ).alias("rx2"),
        )
    )
    md = (
        joint.groupBy("d")
        .agg(F.sum("c").alias("cd"))
        .select(
            "d",
            (
                2 * F.sum("cd").over(W.orderBy("d"))
                - F.col("cd")
                + 1
            ).alias("ry2"),
        )
    )

    def dsum(expr: str) -> F.Column:
        return F.sum(F.expr(expr).cast("decimal(38,0)")).cast("double")

    st = (
        joint.join(F.broadcast(mq), "q")
        .join(F.broadcast(md), "d")
        .agg(
            dsum("c").alias("n"),
            dsum("c * rx2").alias("sx"),
            dsum("c * ry2").alias("sy"),
            dsum("c * rx2 * rx2").alias("sxx"),
            dsum("c * rx2 * ry2").alias("sxy"),
            dsum("c * ry2 * ry2").alias("syy"),
            F.count("*").cast("long").alias("cells"),
        )
    )
    return st.selectExpr(
        "CAST(n AS BIGINT) AS n_rows",
        "cells AS n_cells",
        f"CAST({sql_stable_round4(_SP_RHO)} AS DOUBLE) AS spearman_rho",
    )


# --------------------------------------------------------------------------
# ml_mann_whitney_u
# --------------------------------------------------------------------------

# From doubled tie-averaged rank sum r12 = 2*R1: U1 = R1 - n1(n1+1)/2,
# E[U] = n1*n2/2, Var[U] = n1*n2/12 * ((n+1) - T/(n(n-1))) with the tie
# term T = sum(t^3 - t). All inputs exact integers; doubles only in the
# final interpolated expressions.
_MW_U1 = "((r12 - n1 * (n1 + 1)) / 2.0)"
_MW_VAR = (
    "(n1 * n2 / 12.0"
    " * ((n + 1.0) - tie / nullif(n * (n - 1.0), 0.0)))"
)
_MW_Z = f"(({_MW_U1} - n1 * n2 / 2.0) / nullif(sqrt({_MW_VAR}), 0.0))"

_MW_SQL = """
    vl AS (
        SELECT CAST(round(l_quantity, 0) AS BIGINT) AS q,
               CAST(count(*) AS BIGINT) AS c,
               CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS c1
        FROM lineitem GROUP BY 1),
    rk AS (
        SELECT q, c, c1,
               2 * sum(c) OVER (ORDER BY q) - c + 1 AS r2
        FROM vl),
    st AS (
        SELECT CAST(sum(CAST(c AS HUGEINT)) AS DOUBLE) AS n,
               CAST(sum(CAST(c1 AS HUGEINT)) AS DOUBLE) AS n1,
               CAST(sum(CAST(c - c1 AS HUGEINT)) AS DOUBLE) AS n2,
               CAST(sum(CAST(c1 AS HUGEINT) * r2) AS DOUBLE) AS r12,
               CAST(sum(CAST(c AS HUGEINT) * c * c - c) AS DOUBLE) AS tie
        FROM rk)
"""


@register(
    "ml_mann_whitney_u",
    oracle=f"""
    WITH {_MW_SQL}
    SELECT CAST(n1 AS BIGINT) AS n_returned,
           CAST(n2 AS BIGINT) AS n_kept,
           {sql_stable_round4(_MW_U1)} AS u_stat,
           {sql_stable_round4(_MW_Z)} AS z_score
    FROM st
    """,
)
def ml_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test: do RETURNED lineitems
    (l_returnflag = 'R') come from a different quantity distribution
    than kept ones? (Mann & Whitney 1947.) The nonparametric sibling of
    agg_ab_ttest — no normality assumption, driven entirely by ranks —
    with the standard tie-averaged ranks and tie-corrected normal
    approximation z.

    Like ml_spearman_corr, NO fact row is ranked: quantity's 50-value
    alphabet means the whole test reduces to the value-level table
    (count + returned-count per value), a prefix sum over 50 ordered
    values for the doubled mid-ranks, and one weighted sum for the
    doubled rank sum r12 = 2*R1. U, E[U] and the tie term
    T = sum(t^3 - t) are then exact integers; z is a single
    interpolated double expression (IEEE sqrt of exact inputs).

    Scale shape: one map-side-combined aggregate to 50 rows; the window
    and final statistics are alphabet-sized. One fact scan, one tiny
    shuffle, regardless of table size.
    """
    li = load(spark, sf_dir, "lineitem")
    vl = li.groupBy(
        scaled_long(F.col("l_quantity"), 1).alias("q")
    ).agg(
        F.count("*").cast("long").alias("c"),
        F.sum(
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
        )
        .cast("long")
        .alias("c1"),
    )
    rk = vl.select(
        "c",
        "c1",
        (2 * F.sum("c").over(W.orderBy("q")) - F.col("c") + 1).alias(
            "r2"
        ),
    )

    def dsum(expr: str) -> F.Column:
        return F.sum(F.expr(expr).cast("decimal(38,0)")).cast("double")

    st = rk.agg(
        dsum("c").alias("n"),
        dsum("c1").alias("n1"),
        dsum("c - c1").alias("n2"),
        dsum("c1 * r2").alias("r12"),
        dsum("c * c * c - c").alias("tie"),
    )
    return st.selectExpr(
        "CAST(n1 AS BIGINT) AS n_returned",
        "CAST(n2 AS BIGINT) AS n_kept",
        f"CAST({sql_stable_round4(_MW_U1)} AS DOUBLE) AS u_stat",
        f"CAST({sql_stable_round4(_MW_Z)} AS DOUBLE) AS z_score",
    )


# --------------------------------------------------------------------------
# agg_anova_oneway
# --------------------------------------------------------------------------

ANOVA_MEAN_SCALE = 1_000_000  # group means quantized to 1e-6 cent

# ssb/sst in cents^2 from the quantized group means (t = sum n_g*m_g^2,
# nm2 = n*m^2, both DECIMAL-exact in 1e-12 cent^2):
_AN_SSB = f"((t - nm2) / {float(ANOVA_MEAN_SCALE) ** 2})"
_AN_SST = "(svv - s * s / n)"
_AN_F = (
    f"(CASE WHEN ({_AN_SST} - {_AN_SSB}) > 0 AND n > k AND k > 1"
    f" THEN ({_AN_SSB} / (k - 1.0))"
    f" / (({_AN_SST} - {_AN_SSB}) / (n - k)) ELSE NULL END)"
)
_AN_ETA2 = f"({_AN_SSB} / nullif({_AN_SST}, 0.0))"

_ANOVA_SQL = f"""
    grp AS (
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS ng,
               CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                    AS HUGEINT) AS sg,
               CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)
                        * CAST(round(o_totalprice * 100, 0) AS HUGEINT))
                    AS HUGEINT) AS svvg
        FROM orders GROUP BY 1),
    qm AS (
        SELECT ng, svvg, sg,
               (sg * {ANOVA_MEAN_SCALE}) // ng AS mg
        FROM grp),
    st AS (
        SELECT CAST(sum(CAST(ng AS HUGEINT)) AS DOUBLE) AS n,
               CAST(count(*) AS DOUBLE) AS k,
               CAST(sum(sg) AS DOUBLE) / 100.0 AS s_d,
               CAST(sum(sg) AS HUGEINT) AS s_raw,
               CAST(sum(svvg) AS DOUBLE) AS svv,
               CAST(sum(ng * mg * mg) AS DOUBLE) AS t,
               CAST(sum(CAST(ng AS HUGEINT)) AS HUGEINT) AS n_raw
        FROM qm),
    fin AS (
        SELECT n, k, svv, t,
               CAST(s_d * 100.0 AS DOUBLE) AS s,
               CAST((s_raw * {ANOVA_MEAN_SCALE}) // n_raw AS DOUBLE)
                   AS m_q,
               CAST(n AS DOUBLE)
                   * CAST((s_raw * {ANOVA_MEAN_SCALE}) // n_raw AS DOUBLE)
                   * CAST((s_raw * {ANOVA_MEAN_SCALE}) // n_raw AS DOUBLE)
                   AS nm2
        FROM st)
"""


@register(
    "agg_anova_oneway",
    oracle=f"""
    WITH {_ANOVA_SQL}
    SELECT CAST(n AS BIGINT) AS n_rows,
           CAST(k AS BIGINT) AS n_groups,
           {sql_stable_round4(_AN_F)} AS f_stat,
           {sql_stable_round4(_AN_ETA2)} AS eta_squared
    FROM fin
    """,
)
def agg_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA across the five order priorities on order value
    (Fisher 1925): the k-group generalization of agg_ab_ttest. Reports
    the F statistic and eta^2 (the between-group share of variance).

    Determinism is the interesting part: SSB = sum_g n_g*(mean_g -
    mean)^2 naively sums k DOUBLES (one per group) — order-dependent
    across engines. Instead each group mean is quantized by EXACT
    integer division (sg * 1e6) div ng — the quotient fits int64
    because it is mean-sized, not sum-of-squares-sized (Spark's
    DECIMAL `div` returns LONG and silently wraps past 2^63, measured,
    so quantities that grow with SF^2 must never pass through it) —
    and sum_g n_g*m_g^2 accumulates in DECIMAL(38)/HUGEINT, exactly.
    The statistic is then defined on the 1e-6-cent-quantized means,
    identical on both engines; SST comes from exact raw moments.
    stable_round4 on F and eta^2.

    Scale shape: one map-side-combined aggregate to k = 5 rows carrying
    (n_g, sum, sum-of-squares); everything downstream is k-sized. One
    fact scan, one 5-row shuffle at any SF.
    """
    o = load(spark, sf_dir, "orders")
    cents = scaled_long(F.col("o_totalprice"), 100)
    grp = o.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("ng"),
        F.sum(cents.cast("decimal(38,0)")).alias("sg"),
        F.sum(cents.cast("decimal(38,0)") * cents).alias("svvg"),
    )
    qm = grp.select(
        "ng",
        "sg",
        "svvg",
        F.expr(f"(sg * {ANOVA_MEAN_SCALE}) div ng").alias("mg"),
    )
    st = qm.agg(
        F.sum(F.col("ng").cast("decimal(38,0)"))
        .cast("double")
        .alias("n"),
        F.count("*").cast("double").alias("k"),
        F.sum("sg").cast("double").alias("s"),
        F.sum("sg").alias("s_raw"),
        F.sum("svvg").cast("double").alias("svv"),
        F.sum(
            F.col("ng").cast("decimal(38,0)")
            * F.col("mg")
            * F.col("mg")
        )
        .cast("double")
        .alias("t"),
        F.sum(F.col("ng").cast("decimal(38,0)")).alias("n_raw"),
    )
    fin = st.select(
        "n",
        "k",
        "svv",
        "t",
        "s",
        (
            F.col("n")
            * F.expr(
                f"CAST((s_raw * {ANOVA_MEAN_SCALE}) div n_raw AS DOUBLE)"
            )
            * F.expr(
                f"CAST((s_raw * {ANOVA_MEAN_SCALE}) div n_raw AS DOUBLE)"
            )
        ).alias("nm2"),
    )
    return fin.selectExpr(
        "CAST(n AS BIGINT) AS n_rows",
        "CAST(k AS BIGINT) AS n_groups",
        f"CAST({sql_stable_round4(_AN_F)} AS DOUBLE) AS f_stat",
        f"CAST({sql_stable_round4(_AN_ETA2)} AS DOUBLE) AS eta_squared",
    )


# --------------------------------------------------------------------------
# agg_hhi_concentration
# --------------------------------------------------------------------------

# HHI on the industry 0..10000 scale: 10000 * sum(rev_s^2) / (sum rev_s)^2
_HHI = "(10000.0 * num / (den * den))"

_HHI_SQL = """
    srev AS (
        SELECT l_suppkey,
               CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                        * (100 - CAST(round(l_discount * 100, 0) AS BIGINT)))
                    AS HUGEINT) AS rev
        FROM lineitem GROUP BY 1),
    nat AS (
        SELECT n.n_name AS nation,
               CAST(count(*) AS BIGINT) AS n_suppliers,
               CAST(sum(rev * rev) AS DOUBLE) AS num,
               CAST(sum(rev) AS DOUBLE) AS den
        FROM srev
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation n ON n_nationkey = s_nationkey
        GROUP BY 1)
"""


@register(
    "agg_hhi_concentration",
    oracle=f"""
    WITH {_HHI_SQL}
    SELECT nation, n_suppliers,
           {sql_stable_round4(_HHI)} AS hhi
    FROM nat ORDER BY nation
    """,
)
def agg_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman supplier-revenue concentration per nation on
    the regulator's 0..10000 scale (Herfindahl 1950; the DOJ merger-
    guideline statistic): HHI = 10000 * sum_s share_s^2. A market where
    one supplier takes all revenue scores 10000; perfectly even
    competition among m suppliers scores 10000/m — the market-structure
    companion of agg_gini_revenue's inequality curve.

    Determinism: supplier revenue is the exact discounted-cents integer
    sum_s(ep_cents * (100 - d2)) (the TPC-H money discipline); HHI =
    10000 * sum(rev^2) / (sum rev)^2 keeps numerator and denominator as
    exact DECIMAL(38)/HUGEINT sums — shares are never materialized, so
    there is no per-supplier double division to order. One interpolated
    division per nation, stable_round4.

    Scale shape: the fact table collapses to supplier grain in ONE
    map-side-combined aggregate keyed by l_suppkey (no join below the
    agg); the supplier->nation enrichment joins DIMENSION-sized
    relations (broadcast), and the nation rollup is 25 rows. At 100 TB:
    one fact scan, one supplier-cardinality shuffle.
    """
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        scaled_long(F.col("l_extendedprice"), 100)
        * (100 - scaled_long(F.col("l_discount"), 100))
    )
    srev = li.groupBy("l_suppkey").agg(
        F.sum(rev.cast("decimal(38,0)")).alias("rev")
    )
    nat = (
        srev.join(F.broadcast(s), srev.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").cast("long").alias("n_suppliers"),
            F.sum(F.col("rev") * F.col("rev")).cast("double").alias("num"),
            F.sum("rev").cast("double").alias("den"),
        )
    )
    return nat.selectExpr(
        "nation",
        "n_suppliers",
        f"CAST({sql_stable_round4(_HHI)} AS DOUBLE) AS hhi",
    ).orderBy("nation")


# --------------------------------------------------------------------------
# ts_ljung_box — portmanteau white-noise test on the daily event series
# --------------------------------------------------------------------------

LB_MAX_LAG = 7
LB_SCALE = 1_000_000_000_000  # per-lag acf^2/(n-l) quantized at 1e-12

# per-lag quantized term and the final statistic — pure arithmetic on
# exact integers (no libm), so floor is bit-identical on both engines:
_LB_TERM = (
    f"CAST(floor({LB_SCALE}.0 * (nn / nullif(dd, 0.0))"
    " * (nn / nullif(dd, 0.0)) / (n - l))"
    " AS BIGINT)"
)
_LB_Q = f"(n * (n + 2.0) * sfq / {LB_SCALE}.0)"


@register(
    "ts_ljung_box",
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
    st AS (SELECT CAST(count(*) AS HUGEINT) AS n,
                  CAST(sum(x) AS HUGEINT) AS sx FROM series),
    den AS (
        SELECT CAST(sum((st.n * s.x - st.sx) * (st.n * s.x - st.sx))
                    AS DOUBLE) AS dd
        FROM series s CROSS JOIN st),
    lags AS (SELECT l FROM generate_series(1, {LB_MAX_LAG}) t(l)),
    num AS (
        SELECT lags.l,
               CAST(sum((st.n * a.x - st.sx) * (st.n * b.x - st.sx))
                    AS DOUBLE) AS nn
        FROM series a
        CROSS JOIN lags
        JOIN series b ON b.idx = a.idx + lags.l
        CROSS JOIN st
        GROUP BY lags.l),
    terms AS (
        SELECT {_LB_TERM} AS fq
        FROM num CROSS JOIN den
        CROSS JOIN (SELECT CAST(n AS DOUBLE) AS n FROM st)),
    agg AS (SELECT CAST(count(*) AS BIGINT) AS m_lags,
                   CAST(sum(fq) AS BIGINT) AS sfq FROM terms)
    SELECT CAST(st.n AS BIGINT) AS n_days, m_lags,
           {sql_stable_round4(_LB_Q.replace('n *', 'CAST(st.n AS DOUBLE) *')
                              .replace('(n + 2.0)',
                                       '(CAST(st.n AS DOUBLE) + 2.0)'))}
               AS q_stat
    FROM agg CROSS JOIN st
    """,
)
def ts_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test (Ljung & Box, Biometrika 1978) at lags
    1..{LB_MAX_LAG} on the gap-filled daily event-count series:
    Q = n(n+2) * sum_l acf_l^2/(n-l). Large Q rejects "white noise" —
    the formal yes/no on top of ts_autocorr's per-lag ACF (its weekly
    lag-7 peak is exactly what Q accumulates), and the residual-
    diagnostics gate every forecasting op (ses/holt/seasonal) should
    pass before being trusted.

    Determinism: the ACF machinery is ts_autocorr's verbatim — centered
    terms exact after cross-multiplying by n ((n*x - S) integers in
    HUGEINT/DECIMAL) — and the per-lag term acf^2/(n-l) is quantized to
    an integer at 1e-12 (pure arithmetic of exact inputs, no libm, so
    floor matches bit-for-bit) BEFORE the sum over lags: Q is never an
    order-dependent float accumulation. stable_round4 at the end.

    Scale shape: the raw scan reduces to |days| rows in one grouped
    count; densify, the lag band-join and both reductions run on that
    bounded series, so cost at 100 TB is the single fact scan.
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.count("*").alias("c")
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
    st = series.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
    )
    den = series.crossJoin(F.broadcast(st)).agg(
        F.sum(
            (F.col("n") * F.col("x") - F.col("sx"))
            * (F.col("n") * F.col("x") - F.col("sx"))
        )
        .cast("double")
        .alias("dd")
    )
    lags = spark.range(1, LB_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("l")
    )
    a = series.alias("a").crossJoin(F.broadcast(lags))
    num = (
        a.join(
            series.alias("b"),
            F.col("b.idx") == F.col("a.idx") + F.col("l"),
        )
        .crossJoin(F.broadcast(st))
        .groupBy("l")
        .agg(
            F.sum(
                (F.col("n") * F.col("a.x") - F.col("sx"))
                * (F.col("n") * F.col("b.x") - F.col("sx"))
            )
            .cast("double")
            .alias("nn")
        )
    )
    nrow = st.select(F.col("n").cast("double").alias("n"))
    terms = (
        num.crossJoin(F.broadcast(den))
        .crossJoin(F.broadcast(nrow))
        .select(F.expr(_LB_TERM).alias("fq"))
    )
    agg = terms.agg(
        F.count("*").cast("long").alias("m_lags"),
        F.sum("fq").cast("long").alias("sfq"),
    )
    return agg.crossJoin(F.broadcast(nrow)).selectExpr(
        "CAST(n AS BIGINT) AS n_days",
        "m_lags",
        f"CAST({sql_stable_round4(_LB_Q)} AS DOUBLE) AS q_stat",
    )


# --------------------------------------------------------------------------
# ml_boosted_stumps — two-round gradient boosting with regression stumps
# --------------------------------------------------------------------------

BOOST_MEAN_SCALE = 1_000_000  # segment means quantized to 1e-6 cent

# Split gain as a double ranking key over EXACT integer inputs: with
# prefix sums cn/cs and totals n/s, w = cs*(n-cn) - (s-cs)*cn stays a
# DECIMAL(38) integer (never squared in decimal — w^2 would overflow 38
# digits ~10x sf0.1); the key squares it in double space. Identical
# expression text on both engines => identical IEEE doubles.
_BS_KEY = (
    "((CAST(w AS DOUBLE) / CAST(n AS DOUBLE))"
    " * (CAST(w AS DOUBLE) / CAST(n AS DOUBLE))"
    " * CAST(n AS DOUBLE)"
    " / (CAST(cn AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(cn AS DOUBLE))))"
)
_BS_SST = "(svv - s * s / n)"


def _bs_stage_sql(src: str, val: str, out: str) -> str:
    """One stump stage over a value-level relation ``src(v, nv, {val})``:
    prefix-scan candidates, double-key argmax, quantized segment means."""
    return f"""
    {out}_tot AS (
        SELECT CAST(sum(CAST(nv AS HUGEINT)) AS HUGEINT) AS n,
               CAST(sum({val}) AS HUGEINT) AS s
        FROM {src}),
    {out}_pre AS (
        SELECT v,
               sum(CAST(nv AS HUGEINT)) OVER (ORDER BY v) AS cn,
               sum({val}) OVER (ORDER BY v) AS cs
        FROM {src}),
    {out}_cand AS (
        SELECT v, cn, cs, n, s,
               cs * (n - cn) - (s - cs) * cn AS w
        FROM {out}_pre CROSS JOIN {out}_tot
        WHERE cn > 0 AND cn < n),
    {out} AS (
        SELECT v AS split_v, cn, cs, n, s, w,
               (cs * {BOOST_MEAN_SCALE}) // cn AS ml,
               ((s - cs) * {BOOST_MEAN_SCALE}) // (n - cn) AS mr,
               {_BS_KEY} AS gain
        FROM {out}_cand
        ORDER BY {_BS_KEY} DESC, v LIMIT 1)
    """


@register(
    "ml_boosted_stumps",
    oracle=f"""
    WITH vl AS (
        SELECT CAST(round(l_quantity, 0) AS BIGINT) AS v,
               CAST(count(*) AS BIGINT) AS nv,
               CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                    AS HUGEINT) AS sv,
               CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                        * CAST(round(l_extendedprice * 100, 0) AS HUGEINT))
                    AS HUGEINT) AS svv
        FROM lineitem GROUP BY 1),
    {_bs_stage_sql('vl', 'sv', 's1')},
    res AS (
        SELECT vl.v, vl.nv,
               vl.sv * {BOOST_MEAN_SCALE}
                   - vl.nv * (CASE WHEN vl.v <= s1.split_v
                                   THEN s1.ml ELSE s1.mr END) AS rv
        FROM vl CROSS JOIN s1),
    {_bs_stage_sql('res', 'rv', 's2')},
    sst AS (
        SELECT CAST(sum(svv) AS DOUBLE) AS svv,
               CAST(sum(sv) AS DOUBLE) AS s,
               CAST(sum(CAST(nv AS HUGEINT)) AS DOUBLE) AS n
        FROM vl)
    SELECT CAST(n AS BIGINT) AS n_rows,
           CAST(split1 AS BIGINT) AS split1,
           CAST(split2 AS BIGINT) AS split2,
           {sql_stable_round4(f'(ml1 / {BOOST_MEAN_SCALE}.0 / 100.0)')}
               AS mean_left_1,
           {sql_stable_round4(f'(mr1 / {BOOST_MEAN_SCALE}.0 / 100.0)')}
               AS mean_right_1,
           {sql_stable_round4(f'(g1 / {_BS_SST})')} AS gain1_share,
           {sql_stable_round4(f'(g2 / 1e12 / {_BS_SST})')} AS gain2_share
    FROM (SELECT split_v AS split1, CAST(ml AS DOUBLE) AS ml1,
                 CAST(mr AS DOUBLE) AS mr1, gain AS g1 FROM s1) t1
    CROSS JOIN (SELECT split_v AS split2, gain AS g2 FROM s2) t2
    CROSS JOIN sst
    """,
)
def ml_boosted_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two rounds of gradient boosting with depth-1 regression trees
    (Friedman 2001, squared loss: each round fits a stump to the
    previous round's residuals): round 1 splits l_quantity to predict
    l_extendedprice by segment means; round 2 fits the best stump to
    the RESIDUALS of round 1. Reports both splits and each round's
    share of total SSE explained — the boosting counterpart of
    ml_decision_stump, and a genuinely ITERATIVE ensemble fit that
    stays oracle-checkable because every stage is closed-form.

    The alphabet trick makes it exact AND cheap: quantity has 50
    values, so each round's split search is a prefix scan over the
    50-row value-level table (counts + sums), exactly the
    ts_changepoint_binseg gain with the variance-free identity
    gain(t) = w^2/(cn*(n-cn)*n), w = cs*(n-cn) - (s-cs)*cn. Residual
    SUMS per value are exact integers at the 1e-6-cent scale
    (rv = sv*1e6 - nv*m(v) with m the integer-quantized segment means),
    so round 2 runs the SAME machinery on exact inputs.

    Determinism: w stays an un-squared DECIMAL(38)/HUGEINT (w^2 would
    overflow 38 digits ~10x above sf0.1); the ranking key squares it in
    DOUBLE space from identical expression text — same IEEE result both
    engines — tie-broken by value; segment means use exact integer
    division (mean-sized quotients, the agg_anova_oneway rule).

    Scale shape: ONE map-side-combined fact aggregate to 50 rows;
    both boosting rounds are alphabet-sized windows + 1-row reductions.
    Adding rounds adds zero fact-table passes.
    """
    li = load(spark, sf_dir, "lineitem")
    cents = scaled_long(F.col("l_extendedprice"), 100)
    vl = (
        li.groupBy(scaled_long(F.col("l_quantity"), 1).alias("v"))
        .agg(
            F.count("*").cast("long").alias("nv"),
            F.sum(cents.cast("decimal(38,0)")).alias("sv"),
            F.sum(cents.cast("decimal(38,0)") * cents).alias("svv"),
        )
        .persist()  # both boosting rounds + SST read it
    )

    def stage(src: DataFrame, val: str) -> DataFrame:
        tot = src.agg(
            F.sum(F.col("nv").cast("decimal(38,0)")).alias("n"),
            F.sum(val).alias("s"),
        )
        pre = src.select(
            "v",
            F.sum(F.col("nv").cast("decimal(38,0)"))
            .over(W.orderBy("v"))
            .alias("cn"),
            F.sum(val).over(W.orderBy("v")).alias("cs"),
        )
        cand = (
            pre.crossJoin(F.broadcast(tot))
            .filter((F.col("cn") > 0) & (F.col("cn") < F.col("n")))
            .select(
                F.col("v").alias("split_v"),
                "cn",
                "cs",
                "n",
                "s",
                (
                    F.col("cs") * (F.col("n") - F.col("cn"))
                    - (F.col("s") - F.col("cs")) * F.col("cn")
                ).alias("w"),
            )
        )
        scored = cand.select(
            "split_v",
            "cn",
            "cs",
            "n",
            "s",
            "w",
            F.expr(f"(cs * {BOOST_MEAN_SCALE}) div cn").alias("ml"),
            F.expr(
                f"((s - cs) * {BOOST_MEAN_SCALE}) div (n - cn)"
            ).alias("mr"),
            F.expr(_BS_KEY).alias("gain"),
        )
        return top_k(scored, [], [F.col("gain").desc(), F.col("split_v")])

    s1 = stage(vl, "sv")
    res = vl.crossJoin(F.broadcast(s1.select("split_v", "ml", "mr"))).select(
        "v",
        "nv",
        (
            F.col("sv") * BOOST_MEAN_SCALE
            - F.col("nv")
            * F.when(F.col("v") <= F.col("split_v"), F.col("ml")).otherwise(
                F.col("mr")
            )
        ).alias("rv"),
    )
    s2 = stage(res, "rv")
    sst = vl.agg(
        F.sum("svv").cast("double").alias("svv"),
        F.sum("sv").cast("double").alias("s"),
        F.sum(F.col("nv").cast("decimal(38,0)")).cast("double").alias("n"),
    )
    s1r = s1.select(
        F.col("split_v").alias("split1"),
        F.col("ml").cast("double").alias("ml1"),
        F.col("mr").cast("double").alias("mr1"),
        F.col("gain").alias("g1"),
    )
    s2r = s2.select(
        F.col("split_v").alias("split2"), F.col("gain").alias("g2")
    )
    return (
        s1r.crossJoin(F.broadcast(s2r))
        .crossJoin(F.broadcast(sst))
        .selectExpr(
            "CAST(n AS BIGINT) AS n_rows",
            "CAST(split1 AS BIGINT) AS split1",
            "CAST(split2 AS BIGINT) AS split2",
            f"CAST({sql_stable_round4(f'(ml1 / {BOOST_MEAN_SCALE}.0 / 100.0)')}"
            " AS DOUBLE) AS mean_left_1",
            f"CAST({sql_stable_round4(f'(mr1 / {BOOST_MEAN_SCALE}.0 / 100.0)')}"
            " AS DOUBLE) AS mean_right_1",
            f"CAST({sql_stable_round4(f'(g1 / {_BS_SST})')} AS DOUBLE)"
            " AS gain1_share",
            f"CAST({sql_stable_round4(f'(g2 / 1e12 / {_BS_SST})')} AS DOUBLE)"
            " AS gain2_share",
        )
    )


# --------------------------------------------------------------------------
# ts_pacf — partial autocorrelation via Durbin-Levinson (lags 1..3)
# --------------------------------------------------------------------------

# Durbin-Levinson closed forms in the raw ACF ratios r_k = nn_k/dd —
# interpolated verbatim into both engines (scalar one-row arithmetic):
# nullif: a constant series has dd = 0 (ACF undefined) — propagate
# NULL instead of an ANSI divide-by-zero crash (degenerate-input
# sweep, tests/test_degenerate_inputs.py):
_PA_R1, _PA_R2, _PA_R3 = (
    "(nn1 / nullif(dd, 0.0))",
    "(nn2 / nullif(dd, 0.0))",
    "(nn3 / nullif(dd, 0.0))",
)
_PA_P11 = _PA_R1
_PA_P22 = f"(({_PA_R2} - {_PA_R1} * {_PA_R1}) / (1 - {_PA_R1} * {_PA_R1}))"
_PA_P21 = f"({_PA_R1} * (1 - {_PA_P22}))"
_PA_P33 = (
    f"(({_PA_R3} - {_PA_P21} * {_PA_R2} - {_PA_P22} * {_PA_R1})"
    f" / (1 - {_PA_P21} * {_PA_R1} - {_PA_P22} * {_PA_R2}))"
)

PACF_MAX_LAG = 3


@register(
    "ts_pacf",
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
    st AS (SELECT CAST(count(*) AS HUGEINT) AS n,
                  CAST(sum(x) AS HUGEINT) AS sx FROM series),
    den AS (
        SELECT CAST(sum((st.n * s.x - st.sx) * (st.n * s.x - st.sx))
                    AS DOUBLE) AS dd
        FROM series s CROSS JOIN st),
    num AS (
        SELECT
            CAST(sum(CASE WHEN b.idx = a.idx + 1
                     THEN (st.n * a.x - st.sx) * (st.n * b.x - st.sx)
                     ELSE 0 END) AS DOUBLE) AS nn1,
            CAST(sum(CASE WHEN b.idx = a.idx + 2
                     THEN (st.n * a.x - st.sx) * (st.n * b.x - st.sx)
                     ELSE 0 END) AS DOUBLE) AS nn2,
            CAST(sum(CASE WHEN b.idx = a.idx + 3
                     THEN (st.n * a.x - st.sx) * (st.n * b.x - st.sx)
                     ELSE 0 END) AS DOUBLE) AS nn3
        FROM series a
        CROSS JOIN (SELECT l FROM generate_series(1, {PACF_MAX_LAG}) t(l))
        JOIN series b ON b.idx = a.idx + l
        CROSS JOIN st)
    SELECT CAST(st.n AS BIGINT) AS n_days,
           {sql_stable_round4(_PA_P11)} AS pacf1,
           {sql_stable_round4(_PA_P22)} AS pacf2,
           {sql_stable_round4(_PA_P33)} AS pacf3
    FROM num CROSS JOIN den CROSS JOIN st
    """,
)
def ts_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of the daily event-count series at lags
    1..{PACF_MAX_LAG} via the Durbin-Levinson recursion (Durbin 1960)
    closed over the raw ACF: pacf_2 = (r2 - r1^2)/(1 - r1^2), pacf_3
    from the order-2 coefficients. PACF is the AR-order selector of the
    Box-Jenkins kit — ACF (ts_autocorr) says WHETHER correlation exists,
    Ljung-Box (ts_ljung_box) whether it is significant, PACF says HOW
    MANY AR lags explain it (it cuts off after the true order).

    Determinism: the centered cross-products are ts_autocorr's exact
    integers ((n*x - S) in HUGEINT/DECIMAL); the three lag numerators
    come from ONE conditional aggregate over the lag band-join (never
    three passes); the Durbin-Levinson arithmetic is scalar one-row
    expression text interpolated verbatim into both engines.

    Scale shape: the fact stream collapses once to |days| rows; the
    band-join and the single reduction run on that bounded series —
    one fact scan at any SF.
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.count("*").alias("c")
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
    st = series.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
    )
    den = series.crossJoin(F.broadcast(st)).agg(
        F.sum(
            (F.col("n") * F.col("x") - F.col("sx"))
            * (F.col("n") * F.col("x") - F.col("sx"))
        )
        .cast("double")
        .alias("dd")
    )
    lags = spark.range(1, PACF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("l")
    )
    a = series.alias("a").crossJoin(F.broadcast(lags))
    term = (F.col("n") * F.col("a.x") - F.col("sx")) * (
        F.col("n") * F.col("b.x") - F.col("sx")
    )
    num = (
        a.join(
            series.alias("b"),
            F.col("b.idx") == F.col("a.idx") + F.col("l"),
        )
        .crossJoin(F.broadcast(st))
        .agg(
            *[
                F.sum(F.when(F.col("l") == k, term).otherwise(F.lit(0)))
                .cast("double")
                .alias(f"nn{k}")
                for k in (1, 2, 3)
            ]
        )
    )
    return (
        num.crossJoin(F.broadcast(den))
        .crossJoin(F.broadcast(st.select(F.col("n").cast("long"))))
        .selectExpr(
            "CAST(n AS BIGINT) AS n_days",
            f"CAST({sql_stable_round4(_PA_P11)} AS DOUBLE) AS pacf1",
            f"CAST({sql_stable_round4(_PA_P22)} AS DOUBLE) AS pacf2",
            f"CAST({sql_stable_round4(_PA_P33)} AS DOUBLE) AS pacf3",
        )
    )


# --------------------------------------------------------------------------
# ml_kendall_tau — Kendall tau-b rank correlation (exact pair counting)
# --------------------------------------------------------------------------

# tau_b = (C - D) / sqrt((n0 - Tx)(n0 - Ty)) with n0 = n(n-1)/2 and tie
# terms Tx = sum t(t-1)/2. Doubling everything keeps integers: with
# nn2 = n(n-1), tx2 = sum t(t-1): tau_b = 2(C-D)/sqrt((nn2-tx2)(nn2-ty2)).
# All inputs exact integers cast to double (< 2^53 at any tested SF);
# the expression is identical IEEE arithmetic text in both engines.
# a fully-tied margin makes the denominator EXACTLY zero (tau
# undefined) — guard or ANSI mode throws on degenerate data:
_KT_TAU = ("(CASE WHEN (nn2 - tx2) * (nn2 - ty2) > 0 THEN (2.0 * (cc - dd)) / sqrt((nn2 - tx2) * (nn2 - ty2)) ELSE NULL END)")


@register(
    "ml_kendall_tau",
    oracle=f"""
    WITH joint AS (
        SELECT CAST(round(l_quantity, 0) AS BIGINT) AS q,
               CAST(round(l_discount * 100, 0) AS BIGINT) AS d,
               CAST(count(*) AS HUGEINT) AS c
        FROM lineitem GROUP BY 1, 2),
    pairs AS (
        SELECT CAST(sum(CASE WHEN a.d < b.d THEN a.c * b.c ELSE 0 END)
                    AS DOUBLE) AS cc,
               CAST(sum(CASE WHEN a.d > b.d THEN a.c * b.c ELSE 0 END)
                    AS DOUBLE) AS dd
        FROM joint a JOIN joint b ON a.q < b.q),
    st AS (
        SELECT CAST(sum(c) AS DOUBLE) AS n,
               CAST(sum(c) * (sum(c) - 1) AS DOUBLE) AS nn2,
               CAST(count(*) AS BIGINT) AS cells
        FROM joint),
    tx AS (SELECT CAST(sum(cq * (cq - 1)) AS DOUBLE) AS tx2
           FROM (SELECT sum(c) AS cq FROM joint GROUP BY q)),
    ty AS (SELECT CAST(sum(cd * (cd - 1)) AS DOUBLE) AS ty2
           FROM (SELECT sum(c) AS cd FROM joint GROUP BY d))
    SELECT CAST(n AS BIGINT) AS n_rows,
           cells AS n_cells,
           CAST(cc AS BIGINT) AS concordant,
           CAST(dd AS BIGINT) AS discordant,
           {sql_stable_round4(_KT_TAU)} AS kendall_tau_b
    FROM pairs CROSS JOIN st CROSS JOIN tx CROSS JOIN ty
    """,
)
def ml_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation (Kendall 1938) between lineitem
    quantity and discount — the pair-counting companion of
    ml_spearman_corr: tau counts concordant minus discordant pairs, so
    it is robust to any monotone transform and has the cleanest
    interpretation of the rank trio (P[concordant] - P[discordant]).
    tau-b's denominator corrects for ties on both margins.

    The trick that makes an O(n^2) pair statistic scale: pairs are
    counted on the (q, d) CONTINGENCY TABLE, never on fact rows — both
    columns live on bounded alphabets (50 quantities x 11 discounts),
    so C and D are count-weighted sums over <= 550x550 cell pairs and
    the tie terms come from the two marginals. One fact-table shuffle,
    then alphabet-sized work, at any SF.

    Determinism: C, D, n(n-1), and the doubled tie terms are exact
    integers (HUGEINT/DECIMAL) cast once to double (< 2^53 at tested
    SFs); the tau expression is interpolated verbatim into both
    engines; sqrt is IEEE correctly-rounded (agg_corr_matrix
    precedent); stable_round4 on the reported tau.
    """
    li = load(spark, sf_dir, "lineitem")
    joint = (
        li.groupBy(
            scaled_long(F.col("l_quantity"), 1).alias("q"),
            scaled_long(F.col("l_discount"), 100).alias("d"),
        )
        .agg(F.count("*").cast("decimal(38,0)").alias("c"))
        .persist()  # pairs + marginals + totals: one fact shuffle
    )
    a = joint.select(
        F.col("q").alias("qa"), F.col("d").alias("da"), F.col("c").alias("ca")
    )
    b = joint.select(
        F.col("q").alias("qb"), F.col("d").alias("db"), F.col("c").alias("cb")
    )
    pairs = (
        a.join(F.broadcast(b), F.col("qa") < F.col("qb"))
        .agg(
            F.sum(
                F.when(F.col("da") < F.col("db"), F.col("ca") * F.col("cb"))
                .otherwise(F.lit(0).cast("decimal(38,0)"))
            )
            .cast("double")
            .alias("cc"),
            F.sum(
                F.when(F.col("da") > F.col("db"), F.col("ca") * F.col("cb"))
                .otherwise(F.lit(0).cast("decimal(38,0)"))
            )
            .cast("double")
            .alias("dd"),
        )
    )
    st = joint.agg(
        F.sum("c").cast("double").alias("n"),
        (F.sum("c") * (F.sum("c") - F.lit(1).cast("decimal(38,0)")))
        .cast("double")
        .alias("nn2"),
        F.count("*").cast("long").alias("cells"),
    )
    tx = (
        joint.groupBy("q")
        .agg(F.sum("c").alias("cq"))
        .agg(
            F.sum(
                F.col("cq") * (F.col("cq") - F.lit(1).cast("decimal(38,0)"))
            )
            .cast("double")
            .alias("tx2")
        )
    )
    ty = (
        joint.groupBy("d")
        .agg(F.sum("c").alias("cd"))
        .agg(
            F.sum(
                F.col("cd") * (F.col("cd") - F.lit(1).cast("decimal(38,0)"))
            )
            .cast("double")
            .alias("ty2")
        )
    )
    return (
        pairs.crossJoin(F.broadcast(st))
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
        .selectExpr(
            "CAST(n AS BIGINT) AS n_rows",
            "cells AS n_cells",
            "CAST(cc AS BIGINT) AS concordant",
            "CAST(dd AS BIGINT) AS discordant",
            f"CAST({sql_stable_round4(_KT_TAU)} AS DOUBLE) AS kendall_tau_b",
        )
    )


# --------------------------------------------------------------------------
# ml_auc_pr — average precision (area under the precision-recall curve)
# --------------------------------------------------------------------------

AP_SCALE = 1_000_000_000_000  # per-level term quantized at 1e-12

# Step-interpolated AP = sum over distinct score levels v (descending)
# of (p_v / P) * (tp_v / (tp_v + fp_v)): one multiply + one divide +
# floor, identical expression text in both engines, so the quantized
# term is bit-identical; the level sum is an integer sum.
# pv*tp and p*(tp+fp) widen through DECIMAL(19,0) before the multiply
# (round-10 overflow sweep): count x cumulative-count products wrap
# LONG at ~3e9 positives, silently in Spark, as an ERROR in DuckDB.
# The quantized term itself is a precision-weighted fraction <= 1, so
# AP_SCALE never ceilings.
_AP_TERM = (
    f"CAST(floor({AP_SCALE}.0 *"
    " (CAST(CAST(pv AS DECIMAL(19,0)) * tp AS DOUBLE)"
    " / CAST(CAST(p AS DECIMAL(19,0)) * (tp + fp) AS DOUBLE)))"
    " AS BIGINT)"
)


@register(
    "ml_auc_pr",
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
    vl AS (
        SELECT segment, cents,
               CAST(sum(pos) AS BIGINT) AS pv,
               CAST(sum(1 - pos) AS BIGINT) AS qv
        FROM pooled GROUP BY 1, 2),
    cum AS (
        SELECT segment, pv,
               sum(pv) OVER (PARTITION BY segment ORDER BY cents DESC) AS tp,
               sum(qv) OVER (PARTITION BY segment ORDER BY cents DESC) AS fp,
               sum(pv) OVER (PARTITION BY segment) AS p,
               sum(qv) OVER (PARTITION BY segment) AS q
        FROM vl),
    terms AS (
        SELECT segment, p, q, {_AP_TERM} AS tq FROM cum),
    s AS (
        SELECT segment, CAST(max(p) AS BIGINT) AS n_pos,
               CAST(max(q) AS BIGINT) AS n_neg,
               CAST(sum(tq) AS BIGINT) AS stq
        FROM terms GROUP BY 1)
    SELECT segment, n_pos, n_neg,
           {sql_stable_round4(f'(stq / {AP_SCALE}.0)')} AS avg_precision
    FROM s ORDER BY segment
    """,
)
def ml_auc_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (step-interpolated area under the precision-
    recall curve, the sklearn AP definition) of o_totalprice as a
    ranker for o_orderstatus = 'F', per priority segment plus a pooled
    '__all__' row — the class-imbalance-honest companion of
    ml_auc_roc: ROC AUC is blind to prevalence, AP is precisely the
    metric that collapses when positives are rare.

    Computed on the score VALUE-LEVEL table, never per pair: at each
    distinct score (descending) the recall increment is p_v/P and the
    precision tp/(tp+fp) comes from two running sums, so
    AP = sum p_v*tp / (P*(tp+fp)). Each term's numerator and
    denominator are exact integers < 2^53; the term is quantized at
    1e-12 by identical one-multiply-one-divide-floor IEEE text in both
    engines, and the level sum is an integer sum — no order-dependent
    double accumulation.

    Scale shape: one shuffle to the (segment, cents) level table, two
    alphabet-sized window sums per segment, one grouped sum. O(n log n)
    like the ROC twin, not O(P*N).
    """
    o = load(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("segment"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("pos"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    pooled = base.unionByName(base.withColumn("segment", F.lit("__all__")))
    vl = pooled.groupBy("segment", "cents").agg(
        F.sum("pos").cast("long").alias("pv"),
        F.sum(1 - F.col("pos")).cast("long").alias("qv"),
    )
    wdesc = W.partitionBy("segment").orderBy(F.col("cents").desc())
    wall = W.partitionBy("segment")
    cum = vl.select(
        "segment",
        "pv",
        F.sum("pv").over(wdesc).alias("tp"),
        F.sum("qv").over(wdesc).alias("fp"),
        F.sum("pv").over(wall).alias("p"),
        F.sum("qv").over(wall).alias("q"),
    )
    terms = cum.select("segment", "p", "q", F.expr(_AP_TERM).alias("tq"))
    s = terms.groupBy("segment").agg(
        F.max("p").cast("long").alias("n_pos"),
        F.max("q").cast("long").alias("n_neg"),
        F.sum("tq").cast("long").alias("stq"),
    )
    return s.selectExpr(
        "segment",
        "n_pos",
        "n_neg",
        f"CAST({sql_stable_round4(f'(stq / {AP_SCALE}.0)')} AS DOUBLE)"
        " AS avg_precision",
    ).orderBy("segment")


# --------------------------------------------------------------------------
# agg_trimmed_mean — 10% trimmed and winsorized means per priority
# --------------------------------------------------------------------------

TRIM_DEN = 10  # trim floor(n/10) rows from each tail

# exact rational means in dollars (cents are integers end to end):
_TM_MEAN = "(tsum / (100.0 * (n - 2 * k)))"
_WS_MEAN = "((tsum + k * (lo + hi)) / (100.0 * n))"


@register(
    "agg_trimmed_mean",
    oracle=f"""
    WITH vl AS (
        SELECT o_orderpriority AS segment,
               CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
               CAST(count(*) AS BIGINT) AS c
        FROM orders GROUP BY 1, 2),
    cum AS (
        SELECT segment, cents, c,
               sum(c) OVER (PARTITION BY segment ORDER BY cents) AS cm,
               sum(c) OVER (PARTITION BY segment) AS n
        FROM vl),
    kd AS (
        SELECT segment, cents, c, cm, n, n // {TRIM_DEN} AS k
        FROM cum),
    s AS (
        SELECT segment,
               CAST(max(n) AS BIGINT) AS n,
               CAST(max(k) AS BIGINT) AS k,
               CAST(sum(cents * greatest(0, least(cm, n - k)
                        - greatest(cm - c, k))) AS HUGEINT) AS tsum,
               CAST(min(CASE WHEN cm >= k + 1 THEN cents END)
                    AS BIGINT) AS lo,
               CAST(min(CASE WHEN cm >= n - k THEN cents END)
                    AS BIGINT) AS hi
        FROM kd GROUP BY 1)
    SELECT segment, n AS n_orders, k AS trim_k,
           {sql_stable_round4(_TM_MEAN)} AS trimmed_mean,
           {sql_stable_round4(_WS_MEAN)} AS winsorized_mean
    FROM s ORDER BY segment
    """,
)
def agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-trimmed and winsorized means of order value per priority
    (Tukey's robust-location pair): the trimmed mean drops the
    floor(n/10) cheapest and most expensive orders, the winsorized mean
    clamps them to the cut points — the outlier-robust counterparts of
    the plain mean, completing the robust-stats kit with
    agg_median_exact and dq_outliers_mad.

    NO per-row ranking: the group collapses to its cents VALUE-LEVEL
    table; running counts locate the two cut ranks, each level's
    surviving multiplicity is the exact integer overlap
    min(cum, n-k) - max(cum-c, k), and the cut values come from two
    conditional mins over the same frame. Money stays integer cents
    into an exact HUGEINT/DECIMAL sum; one division per mean at the
    end, stable_round4.

    Scale shape: one shuffle to the (segment, cents) level table, one
    window pass, one grouped sum — the agg_median_exact shape, O(levels)
    not O(rows) past the first aggregate.
    """
    o = load(spark, sf_dir, "orders")
    vl = o.groupBy(
        F.col("o_orderpriority").alias("segment"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5)
        .cast("long")
        .alias("cents"),
    ).agg(F.count("*").cast("long").alias("c"))
    cum = vl.select(
        "segment",
        "cents",
        "c",
        F.sum("c")
        .over(W.partitionBy("segment").orderBy("cents"))
        .alias("cm"),
        F.sum("c").over(W.partitionBy("segment")).alias("n"),
    )
    kd = cum.withColumn("k", F.expr(f"n div {TRIM_DEN}"))
    s = kd.groupBy("segment").agg(
        F.max("n").cast("long").alias("n"),
        F.max("k").cast("long").alias("k"),
        F.sum(
            (
                F.col("cents")
                * F.greatest(
                    F.lit(0).cast("long"),
                    F.least(F.col("cm"), F.col("n") - F.col("k"))
                    - F.greatest(F.col("cm") - F.col("c"), F.col("k")),
                )
            ).cast("decimal(38,0)")
        ).alias("tsum"),
        F.min(
            F.when(F.col("cm") >= F.col("k") + 1, F.col("cents"))
        )
        .cast("long")
        .alias("lo"),
        F.min(
            F.when(F.col("cm") >= F.col("n") - F.col("k"), F.col("cents"))
        )
        .cast("long")
        .alias("hi"),
    )
    return s.selectExpr(
        "segment",
        "n AS n_orders",
        "k AS trim_k",
        f"CAST({sql_stable_round4(_TM_MEAN)} AS DOUBLE) AS trimmed_mean",
        f"CAST({sql_stable_round4(_WS_MEAN)} AS DOUBLE) AS winsorized_mean",
    ).orderBy("segment")


# --------------------------------------------------------------------------
# ts_dominant_period — argmax-ACF cycle detector (lags 2..14)
# --------------------------------------------------------------------------

DP_MAX_LAG = 14
DP_SCALE = 1_000_000_000_000  # acf quantized at 1e-12 for the argmax

# quantized per-lag acf: numerator/denominator are exact centered-integer
# sums, one divide + floor — bit-identical both engines, so the argmax is
# an INTEGER comparison and can never flip on a libm ulp.
_DP_Q = f"CAST(floor({DP_SCALE}.0 * (nn / nullif(dd, 0.0))) AS BIGINT)"


@register(
    "ts_dominant_period",
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
    st AS (SELECT CAST(count(*) AS HUGEINT) AS n,
                  CAST(sum(x) AS HUGEINT) AS sx FROM series),
    den AS (
        SELECT CAST(sum((st.n * s.x - st.sx) * (st.n * s.x - st.sx))
                    AS DOUBLE) AS dd
        FROM series s CROSS JOIN st),
    lags AS (SELECT l FROM generate_series(2, {DP_MAX_LAG}) t(l)),
    num AS (
        SELECT lags.l,
               CAST(sum((st.n * a.x - st.sx) * (st.n * b.x - st.sx))
                    AS DOUBLE) AS nn
        FROM series a
        CROSS JOIN lags
        JOIN series b ON b.idx = a.idx + lags.l
        CROSS JOIN st
        GROUP BY lags.l),
    q AS (SELECT l, nn, {_DP_Q} AS aq
          FROM num CROSS JOIN den),
    best AS (
        SELECT l, nn, aq,
               row_number() OVER (ORDER BY aq DESC, l) AS rn
        FROM q)
    SELECT CAST(st.n AS BIGINT) AS n_days,
           CAST(best.l AS BIGINT) AS dominant_period,
           {sql_stable_round4('(nn / nullif(dd, 0.0))')} AS acf_peak
    FROM best CROSS JOIN den CROSS JOIN st WHERE rn = 1
    """,
)
def ts_dominant_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant cycle length of the daily event-count series: the lag in
    2..{DP_MAX_LAG} with the highest autocorrelation — the
    argmax-of-ACF period detector that decides the seasonal window
    ts_decompose_seasonal / ts_anomaly_seasonal should use (a weekly
    rhythm shows up as the peak at lag 7). Completes the Box-Jenkins kit
    as the model-order pickers' spectral sibling: ACF measures, PACF
    orders, Ljung-Box tests, this one locates the cycle.

    Determinism: the per-lag acf numerators/denominator are the exact
    centered-integer sums of ts_autocorr; each acf is quantized to an
    integer (one divide + floor of exact inputs) BEFORE the argmax, so
    the winning lag is an integer comparison with a lag tie-break —
    never a float argmax that a libm ulp could flip. The reported peak
    acf is stable_round4.

    Scale shape: one fact collapse to |days| rows, one bounded band-join
    over 13 lags, one 13-row argmax. One fact scan at any SF.
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.count("*").alias("c")
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
    st = series.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
    )
    den = series.crossJoin(F.broadcast(st)).agg(
        F.sum(
            (F.col("n") * F.col("x") - F.col("sx"))
            * (F.col("n") * F.col("x") - F.col("sx"))
        )
        .cast("double")
        .alias("dd")
    )
    lags = spark.range(2, DP_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("l")
    )
    a = series.alias("a").crossJoin(F.broadcast(lags))
    num = (
        a.join(
            series.alias("b"),
            F.col("b.idx") == F.col("a.idx") + F.col("l"),
        )
        .crossJoin(F.broadcast(st))
        .groupBy("l")
        .agg(
            F.sum(
                (F.col("n") * F.col("a.x") - F.col("sx"))
                * (F.col("n") * F.col("b.x") - F.col("sx"))
            )
            .cast("double")
            .alias("nn")
        )
    )
    q = num.crossJoin(F.broadcast(den)).select(
        "l", "nn", "dd", F.expr(_DP_Q).alias("aq")
    )
    best = top_k(q, [], [F.col("aq").desc(), F.col("l")])
    return best.crossJoin(
        F.broadcast(st.select(F.col("n").cast("long").alias("n")))
    ).selectExpr(
        "CAST(n AS BIGINT) AS n_days",
        "CAST(l AS BIGINT) AS dominant_period",
        f"CAST({sql_stable_round4('(nn / nullif(dd, 0.0))')} AS DOUBLE) AS acf_peak",
    )


# --------------------------------------------------------------------------
# agg_lorenz_deciles — Lorenz curve of customer revenue concentration
# --------------------------------------------------------------------------


@register(
    "agg_lorenz_deciles",
    oracle="""
    WITH cr AS (
        SELECT o_custkey,
               CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1),
    rk AS (
        SELECT cents,
               row_number() OVER (ORDER BY cents, o_custkey) AS rn,
               count(*) OVER () AS n,
               sum(CAST(cents AS HUGEINT)) OVER () AS tot
        FROM cr),
    dec AS (
        SELECT ((rn - 1) * 10) // n AS decile, cents, n, tot FROM rk),
    s AS (
        SELECT decile,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum(CAST(cents AS HUGEINT)) AS BIGINT)
                   AS revenue_cents,
               CAST(max(tot) AS DOUBLE) AS tot
        FROM dec GROUP BY 1),
    c AS (
        SELECT decile, n_customers, revenue_cents, tot,
               CAST(sum(CAST(revenue_cents AS HUGEINT))
                    OVER (ORDER BY decile) AS DOUBLE) AS cum
        FROM s)
    SELECT CAST(decile AS BIGINT) AS decile, n_customers, revenue_cents,
           CAST(floor((cum / tot) * 10000.0 + 0.5) AS BIGINT) / 10000.0
               AS cum_revenue_share
    FROM c ORDER BY decile
    """,
)
def agg_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of customer-revenue concentration in ten points:
    customers ranked by lifetime revenue, split into deciles, each row
    reporting the decile's revenue and the CUMULATIVE share — the curve
    whose area complement agg_gini_revenue summarizes in one number, kept
    as a relation so a dashboard can draw it ("the top decile carries
    X% of revenue").

    Determinism: money is exact cents throughout; the decile id is the
    integer ((rank-1)*10) div n over a fully tie-broken rank (cents,
    custkey), so bucket boundaries are engine-exact (never ntile's
    engine-specific remainder spread); cumulative shares divide exact
    integer sums once, then round half-up at 1e-4.

    Scale shape (round-8 departition, VERDICT r7 "what's wrong" #3): the
    global (cents, custkey) rank over |customers| is reconstructed as
    off_cnt(cents) + row_number PARTITIONED by the cents tie group —
    off_cnt from prefix_offsets' bucketed prefix scan over the distinct
    cents values (operators/prefix.py), so no single-task sort of the
    customer dimension. Which customer of a tie group lands on which side
    of a decile boundary cannot change the output (their cents are
    equal), but the rank is still fully tie-broken for determinism. The
    <=10-row cumulative is a broadcast theta join, not a window; n/total
    come from a broadcast 1-row aggregate instead of whole-frame windows.
    The fact table is scanned once (checkpointed customer aggregate).
    """
    from .prefix import prefix_offsets

    o = load(spark, sf_dir, "orders")
    cr = o.groupBy("o_custkey").agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")
        )
        .cast("long")
        .alias("cents")
    ).transform(pin)
    vals = cr.groupBy("cents").agg(F.count(F.lit(1)).alias("cnt"))
    offs = prefix_offsets(vals, "cents", ["cnt"], ascending=True)
    nt = cr.agg(
        F.count("*").alias("n"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("tot"),
    )
    rk = (
        cr.join(offs.select("cents", "off_cnt"), "cents")
        .withColumn(
            # LONG-safe within-tie numbering (round-10 partitioned-window
            # sweep): count-over-frame, never the int row_number counter
            "rn_g",
            F.count(F.lit(1)).over(
                W.partitionBy("cents")
                .orderBy("o_custkey")
                .rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
        .join(F.broadcast(nt))
        .selectExpr("cents", "off_cnt + rn_g AS rn", "n", "tot")
    )
    dec = rk.select(
        F.expr("((rn - 1) * 10) div n").alias("decile"),
        "cents",
        "tot",
    )
    s = dec.groupBy("decile").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum(F.col("cents").cast("decimal(38,0)"))
        .cast("long")
        .alias("revenue_cents"),
        F.max("tot").cast("double").alias("tot"),
    ).transform(pin)
    # cumulative over <=10 decile rows via broadcast theta join (the
    # ml_qini_uplift shape), not an unpartitioned window
    prev = s.select(
        F.col("decile").alias("p_dec"),
        F.col("revenue_cents").alias("p_rev"),
    )
    c = (
        s.join(F.broadcast(prev), F.col("p_dec") <= F.col("decile"))
        .groupBy("decile", "n_customers", "revenue_cents", "tot")
        .agg(
            F.sum(F.col("p_rev").cast("decimal(38,0)"))
            .cast("double")
            .alias("cum")
        )
    )
    return c.selectExpr(
        "CAST(decile AS BIGINT) AS decile",
        "n_customers",
        "revenue_cents",
        "CAST(CAST(floor((cum / tot) * 10000.0 + 0.5) AS BIGINT)"
        " / 10000.0 AS DOUBLE) AS cum_revenue_share",
    ).orderBy("decile")


# --------------------------------------------------------------------------
# ts_adf_test — Dickey-Fuller unit-root test on the daily series
# --------------------------------------------------------------------------

# OLS of dx_t = alpha + beta * x_{t-1} + e_t over the m lag pairs, in
# centered exact-integer sums (sxx = m*Saa - Sa^2 etc.): beta = sxy/sxx,
# t = beta / sqrt((syy - beta*sxy) / ((m-2) * sxx)). Unit root <=> beta~0;
# a t below the 5% critical value -2.86 rejects it (stationary).
_ADF_BETA = "(sxy / nullif(sxx, 0.0))"
# residual variance can be EXACTLY zero (a deterministic series: dx
# constant), where the t-statistic is undefined — guard or ANSI mode
# throws DIVIDE_BY_ZERO on degenerate data:
_ADF_T = (
    f"(CASE WHEN (syy - {_ADF_BETA} * sxy) > 0"
    f" THEN {_ADF_BETA} / sqrt((syy - {_ADF_BETA} * sxy)"
    " / ((m - 2.0) * sxx)) ELSE NULL END)"
)


@register(
    "ts_adf_test",
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
        SELECT g.idx, CAST(COALESCE(di.c, 0) AS HUGEINT) AS x
        FROM grid g LEFT JOIN di ON di.idx = g.idx),
    pairs AS (
        SELECT a.x AS xa, b.x - a.x AS dx
        FROM series a JOIN series b ON b.idx = a.idx + 1),
    st AS (
        SELECT CAST(count(*) AS HUGEINT) AS m,
               CAST(sum(xa) AS HUGEINT) AS sa,
               CAST(sum(dx) AS HUGEINT) AS sd,
               CAST(sum(xa * xa) AS HUGEINT) AS saa,
               CAST(sum(xa * dx) AS HUGEINT) AS sad,
               CAST(sum(dx * dx) AS HUGEINT) AS sdd
        FROM pairs),
    cs AS (
        SELECT CAST(m AS DOUBLE) AS m,
               CAST(m * saa - sa * sa AS DOUBLE) AS sxx,
               CAST(m * sad - sa * sd AS DOUBLE) AS sxy,
               CAST(m * sdd - sd * sd AS DOUBLE) AS syy
        FROM st)
    SELECT CAST(m AS BIGINT) AS n_pairs,
           {sql_stable_round4(_ADF_BETA)} AS df_beta,
           {sql_stable_round4(_ADF_T)} AS df_t_stat,
           coalesce({sql_stable_round4(_ADF_T)} <= -2.86, FALSE)
               AS rejects_unit_root
    FROM cs
    """,
)
def ts_adf_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dickey-Fuller unit-root test (Dickey & Fuller 1979) on the daily
    event-count series: regress the day-over-day change on the lagged
    level — beta near 0 means shocks persist (a unit root / random
    walk), a t-statistic below the 5% critical value -2.86 rejects the
    unit root in favor of mean reversion. The formal stationarity gate
    the Box-Jenkins kit (ACF/PACF/Ljung-Box/period) assumes before any
    of its numbers mean anything.

    Determinism: lag pairs come from the same exact band-join as the
    ACF ops; every regression sufficient statistic is an exact integer
    (centered via m*S2 - S^2 in HUGEINT/DECIMAL) cast once to double;
    beta and t are interpolated expression text, sqrt is IEEE-exact,
    stable_round4 on the reported values; the reject flag compares the
    ROUNDED t to the critical literal, identical in both engines.

    Scale shape: fact collapse to |days| rows, one lag-1 self-join on
    the bounded series, one reduction. One fact scan at any SF.
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.count("*").alias("c")
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
        "idx", F.coalesce("c", F.lit(0)).cast("decimal(38,0)").alias("x")
    )
    pairs = (
        series.alias("a")
        .join(series.alias("b"), F.expr("b.idx = a.idx + 1"))
        .select(
            F.col("a.x").alias("xa"),
            (F.col("b.x") - F.col("a.x")).alias("dx"),
        )
    )
    st = pairs.agg(
        F.count("*").cast("decimal(38,0)").alias("m"),
        F.sum("xa").alias("sa"),
        F.sum("dx").alias("sd"),
        F.sum(F.col("xa") * F.col("xa")).alias("saa"),
        F.sum(F.col("xa") * F.col("dx")).alias("sad"),
        F.sum(F.col("dx") * F.col("dx")).alias("sdd"),
    )
    cs = st.select(
        F.col("m").cast("double").alias("m"),
        (F.col("m") * F.col("saa") - F.col("sa") * F.col("sa"))
        .cast("double")
        .alias("sxx"),
        (F.col("m") * F.col("sad") - F.col("sa") * F.col("sd"))
        .cast("double")
        .alias("sxy"),
        (F.col("m") * F.col("sdd") - F.col("sd") * F.col("sd"))
        .cast("double")
        .alias("syy"),
    )
    return cs.selectExpr(
        "CAST(m AS BIGINT) AS n_pairs",
        f"CAST({sql_stable_round4(_ADF_BETA)} AS DOUBLE) AS df_beta",
        f"CAST({sql_stable_round4(_ADF_T)} AS DOUBLE) AS df_t_stat",
        f"coalesce({sql_stable_round4(_ADF_T)} <= -2.86, FALSE)"
        " AS rejects_unit_root",
    )


# --------------------------------------------------------------------------
# ml_two_proportion_ztest — pooled two-proportion z (conversion compare)
# --------------------------------------------------------------------------

_ZP_P1, _ZP_P2 = "(x1 / nullif(n1, 0.0))", "(x2 / nullif(n2, 0.0))"
_ZP_POOL = "((x1 + x2) / nullif(n1 + n2, 0.0))"
_ZP_Z = (
    f"(({_ZP_P1} - {_ZP_P2})"
    f" / nullif(sqrt({_ZP_POOL} * (1.0 - {_ZP_POOL})"
    f" * (1.0 / nullif(n1, 0.0) + 1.0 / nullif(n2, 0.0))), 0.0))"
)


@register(
    "ml_two_proportion_ztest",
    oracle=f"""
    WITH st AS (
        SELECT
            CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                     THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
            CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                          AND o_orderstatus = 'F'
                     THEN 1 ELSE 0 END) AS DOUBLE) AS x1,
            CAST(sum(CASE WHEN o_orderpriority = '5-LOW'
                     THEN 1 ELSE 0 END) AS DOUBLE) AS n2,
            CAST(sum(CASE WHEN o_orderpriority = '5-LOW'
                          AND o_orderstatus = 'F'
                     THEN 1 ELSE 0 END) AS DOUBLE) AS x2
        FROM orders)
    SELECT CAST(n1 AS BIGINT) AS n_urgent, CAST(x1 AS BIGINT) AS f_urgent,
           CAST(n2 AS BIGINT) AS n_low, CAST(x2 AS BIGINT) AS f_low,
           {sql_stable_round4(_ZP_P1)} AS p_urgent,
           {sql_stable_round4(_ZP_P2)} AS p_low,
           {sql_stable_round4(_ZP_Z)} AS z_stat
    FROM st
    """,
)
def ml_two_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pooled two-proportion z-test: is the order-finality RATE different
    between urgent and low-priority orders? The binary-outcome member of
    the experimentation kit — agg_ab_ttest compares means, ml_sprt_ab
    sequences, chi2 tests the whole table; this is the two-arm
    conversion-rate test an A/B readout actually quotes.

    Determinism: the four sufficient statistics are exact integer counts
    from ONE conditional aggregate over one scan; p1, p2, the pooled
    rate, and z are interpolated expression text over their exact-double
    casts, sqrt IEEE-exact, stable_round4 on every rational.

    Scale shape: a single map-side-combined scalar aggregate — no
    shuffle wider than one row at any SF.
    """
    o = load(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority") == "1-URGENT"
    low = F.col("o_orderpriority") == "5-LOW"
    fin = F.col("o_orderstatus") == "F"
    st = o.agg(
        F.sum(F.when(urgent, 1).otherwise(0)).cast("double").alias("n1"),
        F.sum(F.when(urgent & fin, 1).otherwise(0))
        .cast("double")
        .alias("x1"),
        F.sum(F.when(low, 1).otherwise(0)).cast("double").alias("n2"),
        F.sum(F.when(low & fin, 1).otherwise(0))
        .cast("double")
        .alias("x2"),
    )
    return st.selectExpr(
        "CAST(n1 AS BIGINT) AS n_urgent",
        "CAST(x1 AS BIGINT) AS f_urgent",
        "CAST(n2 AS BIGINT) AS n_low",
        "CAST(x2 AS BIGINT) AS f_low",
        f"CAST({sql_stable_round4(_ZP_P1)} AS DOUBLE) AS p_urgent",
        f"CAST({sql_stable_round4(_ZP_P2)} AS DOUBLE) AS p_low",
        f"CAST({sql_stable_round4(_ZP_Z)} AS DOUBLE) AS z_stat",
    )


# --------------------------------------------------------------------------
# ml_lasso_cd — lasso coordinate descent selecting AR lags (1 vs 7)
# --------------------------------------------------------------------------

LASSO_SHRINK_DEN = 20  # threshold = s_jj / 20 (coefficients < 0.05 die)


def _soft(z: str, t: str) -> str:
    """Soft-threshold S(z, t) as engine-neutral expression text."""
    return (
        f"(CASE WHEN {z} > {t} THEN {z} - {t}"
        f" WHEN {z} < -({t}) THEN {z} + {t} ELSE 0.0 END)"
    )


# two coordinate-descent sweeps, one named step per select so BOTH
# engines evaluate the identical per-step expression over named columns
# (never a re-inlined mega-expression):
_LS_B1A = f"({_soft('s1y', f's11 / {LASSO_SHRINK_DEN}.0')} / s11)"
_LS_B7A = f"({_soft('(s7y - b1a * s17)', f's77 / {LASSO_SHRINK_DEN}.0')} / s77)"
_LS_B1B = f"({_soft('(s1y - b7a * s17)', f's11 / {LASSO_SHRINK_DEN}.0')} / s11)"
_LS_B7B = f"({_soft('(s7y - b1b * s17)', f's77 / {LASSO_SHRINK_DEN}.0')} / s77)"


@register(
    "ml_lasso_cd",
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
        SELECT g.idx, CAST(COALESCE(di.c, 0) AS HUGEINT) AS x
        FROM grid g LEFT JOIN di ON di.idx = g.idx),
    rows3 AS (
        SELECT y.x AS y, l1.x AS x1, l7.x AS x7
        FROM series y
        JOIN series l1 ON l1.idx = y.idx - 1
        JOIN series l7 ON l7.idx = y.idx - 7),
    st AS (
        SELECT CAST(count(*) AS BIGINT) AS m,
               CAST(sum(x1 * x1) AS DOUBLE) AS s11,
               CAST(sum(x7 * x7) AS DOUBLE) AS s77,
               CAST(sum(x1 * x7) AS DOUBLE) AS s17,
               CAST(sum(x1 * y) AS DOUBLE) AS s1y,
               CAST(sum(x7 * y) AS DOUBLE) AS s7y
        FROM rows3),
    r1 AS (SELECT *, {_LS_B1A} AS b1a FROM st),
    r2 AS (SELECT *, {_LS_B7A} AS b7a FROM r1),
    r3 AS (SELECT *, {_LS_B1B} AS b1b FROM r2),
    r4 AS (SELECT *, {_LS_B7B} AS b7b FROM r3)
    SELECT m AS n_rows,
           {sql_stable_round4('b1b')} AS beta_lag1,
           {sql_stable_round4('b7b')} AS beta_lag7,
           CAST((CASE WHEN b1b <> 0.0 THEN 1 ELSE 0 END)
                + (CASE WHEN b7b <> 0.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_active
    FROM r4
    """,
)
def ml_lasso_cd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lasso coordinate descent (Friedman et al. 2007 pathwise CD)
    selecting autoregressive lags of the daily event series: regress
    today's count on lag-1 and lag-7 with an L1 penalty — the sparse
    answer to "is the series driven by yesterday, by last week, or
    neither", the model-selection step after ts_pacf suggests an order.
    Two full CD sweeps, each coordinate update the closed-form
    soft-threshold S(rho_j, s_jj/20)/s_jj.

    Determinism: all sufficient statistics are exact integer sums from
    the lag band-joins (counts are integers, no centering needed —
    documented no-intercept form); the four CD steps are NAMED one-row
    columns (b1a, b7a, b1b, b7b), each step identical expression text
    over the previous step's column in BOTH engines — never a
    re-inlined mega-expression (the inlining perf trap AND an
    exactness hazard); the active-set count compares against the EXACT
    0.0 the CASE emits, so selection is engine-stable.

    Scale shape: fact collapse to |days| rows, one 3-way bounded band
    join, one reduction; the CD sweeps are driver-free scalar algebra
    on a 1-row frame.
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.count("*").alias("c")
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
        "idx", F.coalesce("c", F.lit(0)).cast("decimal(38,0)").alias("x")
    )
    rows3 = (
        series.alias("y")
        .join(series.alias("l1"), F.expr("l1.idx = y.idx - 1"))
        .join(series.alias("l7"), F.expr("l7.idx = y.idx - 7"))
        .select(
            F.col("y.x").alias("yv"),
            F.col("l1.x").alias("x1"),
            F.col("l7.x").alias("x7"),
        )
    )
    st = rows3.agg(
        F.count("*").cast("long").alias("m"),
        F.sum(F.col("x1") * F.col("x1")).cast("double").alias("s11"),
        F.sum(F.col("x7") * F.col("x7")).cast("double").alias("s77"),
        F.sum(F.col("x1") * F.col("x7")).cast("double").alias("s17"),
        F.sum(F.col("x1") * F.col("yv")).cast("double").alias("s1y"),
        F.sum(F.col("x7") * F.col("yv")).cast("double").alias("s7y"),
    )
    r = (
        st.selectExpr("*", f"{_LS_B1A} AS b1a")
        .selectExpr("*", f"{_LS_B7A} AS b7a")
        .selectExpr("*", f"{_LS_B1B} AS b1b")
        .selectExpr("*", f"{_LS_B7B} AS b7b")
    )
    return r.selectExpr(
        "m AS n_rows",
        f"CAST({sql_stable_round4('b1b')} AS DOUBLE) AS beta_lag1",
        f"CAST({sql_stable_round4('b7b')} AS DOUBLE) AS beta_lag7",
        "CAST((CASE WHEN b1b <> 0.0 THEN 1 ELSE 0 END)"
        " + (CASE WHEN b7b <> 0.0 THEN 1 ELSE 0 END) AS BIGINT)"
        " AS n_active",
    )


# --------------------------------------------------------------------------
# ml_mcnemar_test — paired comparison of the two lang classifiers
# --------------------------------------------------------------------------

from .statsml import NB_PRED_SQL, nb_doc_pred  # noqa: E402
from .textstats import LANG_MARKERS, _marker_count_sql, tokens  # noqa: E402

# continuity-corrected McNemar chi2 over the discordant counts: only the
# documents where the classifiers DISAGREE about being right carry
# information about which one is better.
_MC_CHI2 = (
    "(CASE WHEN b + c = 0 THEN 0.0"
    " ELSE (abs(b - c) - 1.0) * (abs(b - c) - 1.0) / (b + c) END)"
)


@register(
    "ml_mcnemar_test",
    oracle=f"""
    WITH {NB_PRED_SQL},
    ms AS (
        SELECT doc_id, lang,
               {_marker_count_sql(LANG_MARKERS['en'])} AS c_en,
               {_marker_count_sql(LANG_MARKERS['de'])} AS c_de,
               {_marker_count_sql(LANG_MARKERS['fr'])} AS c_fr,
               {_marker_count_sql(LANG_MARKERS['es'])} AS c_es
        FROM documents),
    mpred AS (
        SELECT doc_id,
               CASE WHEN c_en >= c_de AND c_en >= c_fr AND c_en >= c_es
                         AND c_en > 0 THEN 'en'
                    WHEN c_de >= c_fr AND c_de >= c_es AND c_de > 0
                         THEN 'de'
                    WHEN c_fr >= c_es AND c_fr > 0 THEN 'fr'
                    WHEN c_es > 0 THEN 'es'
                    ELSE 'und' END AS marker_pred,
               lang
        FROM ms),
    paired AS (
        SELECT CASE WHEN nbp.lang_pred = nbp.lang_true
                    THEN 1 ELSE 0 END AS nb_ok,
               CASE WHEN mpred.marker_pred = mpred.lang
                    THEN 1 ELSE 0 END AS mk_ok
        FROM nbp JOIN mpred ON nbp.doc_id = mpred.doc_id),
    st AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(nb_ok * mk_ok) AS BIGINT) AS both_ok,
               CAST(sum(nb_ok * (1 - mk_ok)) AS DOUBLE) AS b,
               CAST(sum((1 - nb_ok) * mk_ok) AS DOUBLE) AS c,
               CAST(sum((1 - nb_ok) * (1 - mk_ok)) AS BIGINT) AS both_bad
        FROM paired)
    SELECT n AS n_docs, both_ok AS both_correct,
           CAST(b AS BIGINT) AS only_nb_correct,
           CAST(c AS BIGINT) AS only_marker_correct,
           both_bad AS both_wrong,
           {sql_stable_round4(_MC_CHI2)} AS mcnemar_chi2
    FROM st
    """,
)
def ml_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test (McNemar 1947) between the repo's TWO
    language classifiers — the learned naive-Bayes (nb_doc_pred) and the
    marker-stopword heuristic (text_lang_id's rule) — on the same
    documents: the discordant counts b (only NB right) and c (only the
    heuristic right) are the ONLY evidence about which classifier is
    better, and the continuity-corrected chi2 (|b-c|-1)^2/(b+c) is the
    significance of that difference. The model-selection test an eval
    harness runs before swapping classifiers in a curation pipeline —
    and the op that pins BOTH registered classifiers end to end in one
    hash.

    Determinism: both predictions are the registered deterministic ones
    (quantized-log argmax with tie-break; integer marker argmax with
    fixed priority); the 2x2 paired table is exact integer counts from
    one join + one conditional aggregate; chi2 is one division of exact
    doubles with an explicit b+c=0 guard, stable_round4.

    Scale shape: NB scoring is the token equi-join shape of
    ml_naive_bayes_lang; the heuristic is a shuffle-free per-doc map;
    the paired join keys on doc_id. Nothing wider than (docs x langs)
    ever shuffles.
    """
    nbp = nb_doc_pred(spark, sf_dir)
    d = load(spark, sf_dir, "documents")
    # Layered projections (round-10 optimization): higher-order-function
    # bodies run interpreted, so a single select inlines the tokenize
    # regex into every filter lambda AND every when-branch reference —
    # ~14 regexp_extract_all evaluations per row. Materializing toks,
    # then the four counts, as separate Projects (CollapseProject keeps
    # non-cheap producers with >1 consumer un-inlined) evaluates the
    # regex once and each marker filter once. Same expressions, same
    # values — oracle unchanged.
    mt = d.select("doc_id", "lang", tokens(F.col("text")).alias("toks"))
    mc = mt.select(
        "doc_id",
        "lang",
        *[
            F.size(F.filter(F.col("toks"), lambda x: x.isin(*ws))).alias(
                f"c_{lang}"
            )
            for lang, ws in LANG_MARKERS.items()
        ],
    )
    c_en, c_de, c_fr, c_es = (
        F.col("c_en"),
        F.col("c_de"),
        F.col("c_fr"),
        F.col("c_es"),
    )
    marker = (
        F.when(
            (c_en >= c_de) & (c_en >= c_fr) & (c_en >= c_es) & (c_en > 0),
            "en",
        )
        .when((c_de >= c_fr) & (c_de >= c_es) & (c_de > 0), "de")
        .when((c_fr >= c_es) & (c_fr > 0), "fr")
        .when(c_es > 0, "es")
        .otherwise("und")
    )
    mpred = mc.select("doc_id", "lang", marker.alias("marker_pred"))
    paired = nbp.join(mpred, "doc_id").select(
        F.when(F.col("lang_pred") == F.col("lang_true"), 1)
        .otherwise(0)
        .alias("nb_ok"),
        F.when(F.col("marker_pred") == F.col("lang"), 1)
        .otherwise(0)
        .alias("mk_ok"),
    )
    st = paired.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("nb_ok") * F.col("mk_ok")).cast("long").alias("both_ok"),
        F.sum(F.col("nb_ok") * (1 - F.col("mk_ok")))
        .cast("double")
        .alias("b"),
        F.sum((1 - F.col("nb_ok")) * F.col("mk_ok"))
        .cast("double")
        .alias("c"),
        F.sum((1 - F.col("nb_ok")) * (1 - F.col("mk_ok")))
        .cast("long")
        .alias("both_bad"),
    )
    return st.selectExpr(
        "n AS n_docs",
        "both_ok AS both_correct",
        "CAST(b AS BIGINT) AS only_nb_correct",
        "CAST(c AS BIGINT) AS only_marker_correct",
        "both_bad AS both_wrong",
        f"CAST({sql_stable_round4(_MC_CHI2)} AS DOUBLE) AS mcnemar_chi2",
    )


# --------------------------------------------------------------------------
# ml_brier_decomposition — Murphy decomposition of the Brier score
# --------------------------------------------------------------------------

# Round-10 overflow sweep: was 1e12, which put the quantized REL term
# (<= n_b * SCALE) past BIGINT at just ~9.2e6 rows per bin — an sf100
# fixture would have breached it. 1e6 gives ~9.2e12-rows-per-bin
# headroom; the 1e-6 quantum is still two orders below the 4-decimal
# output rounding.
BRIER_SCALE = 1_000_000  # per-bin REL/RES terms quantized at 1e-6

# per-bin reliability and resolution terms (Murphy 1973): each is ONE
# division quantized to an integer BEFORE the 10-row bin sum so the sum
# is never order-dependent doubles. The interior rank/count masses
# (srk ~ n_b*n, pos_b*(n-1), pos_b*n - p*n_b) exceed 2^63 LONG at the
# 1e10-row posture, so the diffs are formed in DOUBLE from the start —
# identical in both engines (same expression text), bit-equal to the
# old exact-integer form wherever every mass fit 2^53, and gracefully
# approximate (never wrapped) beyond.
_BR_REL_T = (
    f"CAST(floor({BRIER_SCALE}.0 *"
    " ((CAST(srk AS DOUBLE) - CAST(pos_b AS DOUBLE) * (n - 1))"
    " * (CAST(srk AS DOUBLE) - CAST(pos_b AS DOUBLE) * (n - 1))"
    " / (CAST((n - 1) AS DOUBLE) * (n - 1) * n_b))) AS BIGINT)"
)
_BR_RES_T = (
    f"CAST(floor({BRIER_SCALE}.0 *"
    " ((CAST(pos_b AS DOUBLE) * n - CAST(p AS DOUBLE) * n_b)"
    " * (CAST(pos_b AS DOUBLE) * n - CAST(p AS DOUBLE) * n_b)"
    " / (CAST(n AS DOUBLE) * n * n_b))) AS BIGINT)"
)
_BR_UNC = "(p * (n - p) / (n * n))"


@register(
    "ml_brier_decomposition",
    oracle=f"""
    WITH base AS (
        SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos,
               CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        FROM orders),
    r AS (
        SELECT pos, rank() OVER (ORDER BY cents) AS rk,
               count(*) OVER () AS n
        FROM base),
    bs AS (
        SELECT CAST(sum(CAST((rk - 1) - pos * (n - 1) AS HUGEINT)
                        * ((rk - 1) - pos * (n - 1))) AS DOUBLE) AS bnum
        FROM r),
    b AS (
        SELECT least(CAST((rk - 1) * 10 // (n - 1) AS INT), 9) AS bin,
               pos, rk, n
        FROM r),
    g AS (
        SELECT bin, n, CAST(count(*) AS BIGINT) AS n_b,
               CAST(sum(pos) AS BIGINT) AS pos_b,
               CAST(sum(rk - 1) AS BIGINT) AS srk
        FROM b GROUP BY 1, 2),
    p AS (SELECT CAST(sum(pos) AS BIGINT) AS p FROM r),
    terms AS (
        SELECT n, p, {_BR_REL_T} AS rel_t, {_BR_RES_T} AS res_t
        FROM g CROSS JOIN p),
    s AS (
        SELECT CAST(max(n) AS DOUBLE) AS n, CAST(max(p) AS DOUBLE) AS p,
               CAST(count(*) AS BIGINT) AS n_bins,
               CAST(sum(rel_t) AS DOUBLE) AS srel,
               CAST(sum(res_t) AS DOUBLE) AS sres
        FROM terms)
    SELECT CAST(n AS BIGINT) AS n_rows, n_bins,
           {sql_stable_round4(
               f'(bnum / (n * (n - 1.0) * (n - 1.0)))')} AS brier_score,
           {sql_stable_round4(f'(srel / ({BRIER_SCALE}.0 * n))')}
               AS reliability,
           {sql_stable_round4(f'(sres / ({BRIER_SCALE}.0 * n))')}
               AS resolution,
           {sql_stable_round4(_BR_UNC)} AS uncertainty
    FROM s CROSS JOIN bs
    """,
)
def ml_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score of the percentile-calibrated price-predicts-finality
    forecast, with Murphy's (1973) decomposition over the 10 calibration
    bins: Brier = reliability - resolution + uncertainty. Reliability is
    ml_calibration_bins' miscalibration squared and n-weighted;
    resolution rewards bins whose outcome rate differs from the base
    rate; uncertainty is the base-rate variance no forecaster can beat.
    The one-row diagnosis of WHY a probabilistic gate (quality
    classifier, dedup verifier) has the Brier it has.

    Determinism: the forecast is the integer rank transform
    (rk-1)/(n-1), so the raw Brier numerator sum((rk-1) - y(n-1))^2 is
    an exact HUGEINT/DECIMAL integer; each per-bin REL/RES term is one
    division quantized at 1e-6 BEFORE the 10-row
    sum (order-independent); uncertainty is expression text over exact
    counts. stable_round4 everywhere.

    Scale shape (round-8 departition): prefix_offsets over the distinct
    score values replaces the global fact rank (no unpartitioned window,
    no fact-sized persist), one 10-row bin aggregate, scalar algebra —
    ml_calibration_bins' plan plus one extra exact reduction.
    """
    o = load(spark, sf_dir, "orders")
    base = o.select(
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("pos"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    # round-8 departition (rank-cut family): rank() with ties sharing is
    # off_cnt(cents)+1 from prefix_offsets over the DISTINCT cents values
    # — the old form was a global fact rank funneled through one task,
    # AND its .persist() made the optimizer substitute InMemoryRelation
    # into every identical subtree, hiding the windows from the plan
    # audit for two rounds (the audit now recurses into cached plans).
    # Rows collapse to (cents, pos) groups: rk, bin, and every per-row
    # term are constant within a group, so each aggregate weights by the
    # group count. The compact group table is checkpointed once — the
    # numerator, the bins, and the base rate all branch from it without
    # re-scanning the fact.
    from .prefix import prefix_offsets

    vg = base.groupBy("cents", "pos").agg(F.count("*").alias("cnt"))
    cg = vg.groupBy("cents").agg(F.sum("cnt").alias("vc"))
    offs = prefix_offsets(cg, "cents", ["vc"], ascending=True)
    r = vg.join(
        offs.select(
            "cents",
            F.col("off_vc").alias("rkm1"),
            F.col("tot_vc").alias("n"),
        ),
        "cents",
    ).transform(pin)
    dev = (F.col("rkm1") - F.col("pos") * (F.col("n") - 1)).cast(
        "decimal(38,0)"
    )
    bs = r.agg(
        F.sum(
            dev
            * (F.col("rkm1") - F.col("pos") * (F.col("n") - 1))
            * F.col("cnt")
        )
        .cast("double")
        .alias("bnum")
    )
    b = r.select(
        F.least(
            F.expr("CAST(rkm1 * 10 DIV (n - 1) AS INT)"), F.lit(9)
        ).alias("bin"),
        "pos",
        "cnt",
        "rkm1",
        "n",
    )
    g = b.groupBy("bin", "n").agg(
        F.sum("cnt").cast("long").alias("n_b"),
        F.sum(F.col("pos") * F.col("cnt")).cast("long").alias("pos_b"),
        # srk stays DECIMAL: the within-bin rank mass is ~n_b*n, which
        # exceeds LONG at the 1e10-row posture — the old .cast("long")
        # was a CHECKED cast in Spark 4 and would have crashed there.
        # _BR_REL_T only ever reads CAST(srk AS DOUBLE).
        F.sum(F.col("rkm1").cast("decimal(38,0)") * F.col("cnt")).alias(
            "srk"
        ),
    )
    pt = r.agg(
        F.sum(F.col("pos") * F.col("cnt")).cast("long").alias("p")
    )
    terms = g.crossJoin(F.broadcast(pt)).selectExpr(
        "n", "p", f"{_BR_REL_T} AS rel_t", f"{_BR_RES_T} AS res_t"
    )
    s = terms.agg(
        F.max("n").cast("double").alias("n"),
        F.max("p").cast("double").alias("p"),
        F.count("*").cast("long").alias("n_bins"),
        F.sum("rel_t").cast("double").alias("srel"),
        F.sum("res_t").cast("double").alias("sres"),
    )
    return s.crossJoin(F.broadcast(bs)).selectExpr(
        "CAST(n AS BIGINT) AS n_rows",
        "n_bins",
        f"CAST({sql_stable_round4('(bnum / (n * (n - 1.0) * (n - 1.0)))')}"
        " AS DOUBLE) AS brier_score",
        f"CAST({sql_stable_round4(f'(srel / ({BRIER_SCALE}.0 * n))')}"
        " AS DOUBLE) AS reliability",
        f"CAST({sql_stable_round4(f'(sres / ({BRIER_SCALE}.0 * n))')}"
        " AS DOUBLE) AS resolution",
        f"CAST({sql_stable_round4(_BR_UNC)} AS DOUBLE) AS uncertainty",
    )


# --------------------------------------------------------------------------
# ts_dow_profile — day-of-week seasonal profile with exact medians
# --------------------------------------------------------------------------


@register(
    "ts_dow_profile",
    oracle="""
    WITH daily AS (
        SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1),
    dw AS (
        SELECT CAST(dayofweek(d) AS BIGINT) AS dow, c FROM daily),
    rk AS (
        SELECT dow, c,
               row_number() OVER (PARTITION BY dow ORDER BY c) AS rn,
               count(*) OVER (PARTITION BY dow) AS n
        FROM dw)
    SELECT dow,
           CAST(max(n) AS BIGINT) AS n_days,
           CAST(sum(c) AS BIGINT) AS total_events,
           CAST(CAST(sum(CASE WHEN 2 * rn IN (n, n + 1, n + 2)
                         THEN c ELSE 0 END) AS DOUBLE)
                / sum(CASE WHEN 2 * rn IN (n, n + 1, n + 2)
                      THEN 1 ELSE 0 END) AS DOUBLE) AS median_daily
    FROM rk GROUP BY dow ORDER BY dow
    """,
)
def ts_dow_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal profile of the event stream: per weekday the
    day count, total volume, and the EXACT median daily count — the
    7-row relation behind "is there a weekly rhythm", pairing with
    ts_dominant_period (which detects the cycle) by showing its shape.

    Median discipline (agg_median_exact's): rank the per-dow daily
    counts with row_number and pick the middle by exact integer rank
    arithmetic. One parity-proof condition, 2*rn IN (n, n+1, n+2),
    selects exactly the middle value (odd n, 2rn=n+1 by parity) or the
    middle two (even n) — so the median is always sum(selected) /
    count(selected), an exact half-integer, and no engine ever divides
    by zero. dayofweek is normalized to 0..6 with Sunday=0 (DuckDB's
    native numbering; Spark's 1..7 shifted by one).

    Scale shape: fact collapse to |days| rows, a 7-partition window,
    a 7-row aggregate. One fact scan.
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.count("*").cast("long").alias("c")
    )
    dw = daily.select(
        (F.dayofweek("d").cast("long") - 1).alias("dow"), "c"
    )
    rk = dw.select(
        "dow",
        "c",
        F.row_number().over(W.partitionBy("dow").orderBy("c")).alias("rn"),
        F.count("*").over(W.partitionBy("dow")).alias("n"),
    )
    mid = (2 * F.col("rn")).isin(
        F.col("n"), F.col("n") + 1, F.col("n") + 2
    )
    return (
        rk.groupBy("dow")
        .agg(
            F.max("n").cast("long").alias("n_days"),
            F.sum("c").cast("long").alias("total_events"),
            (
                F.sum(F.when(mid, F.col("c")).otherwise(0)).cast("double")
                / F.sum(F.when(mid, 1).otherwise(0))
            )
            .cast("double")
            .alias("median_daily"),
        )
        .orderBy("dow")
    )


# --------------------------------------------------------------------------
# events_gesd_outliers — generalized ESD outlier screen (3 rounds)
# --------------------------------------------------------------------------

GESD_ROUNDS = 3

# studentized deviation of the removed point, over the EXACT integer
# sufficient statistics of the round's remaining set: dev = |n*x - sx|,
# cxx = n*sxx - sx^2, R = dev/n / sqrt(cxx/(n(n-1))) = dev/sqrt(n*cxx/(n-1))
# cxx is EXACTLY zero when the remaining set is constant — R is
# undefined there; guard or ANSI mode throws on degenerate data:
_GESD_R = ("(CASE WHEN cxx > 0 THEN dev / sqrt(n * cxx / (n - 1.0)) ELSE NULL END)")

_GESD_SERIES_SQL = """
    daily AS (
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
        SELECT g.idx, CAST(COALESCE(di.c, 0) AS HUGEINT) AS x
        FROM grid g LEFT JOIN di ON di.idx = g.idx)
"""


def _gesd_round_sql(k: int, src: str) -> str:
    """One unrolled ESD round: stats over ``src``, argmax |n*x - sx|
    (exact integer, idx tie-break), and the survivor set."""
    return f"""
    s{k} AS (SELECT CAST(count(*) AS HUGEINT) AS n,
                    CAST(sum(x) AS HUGEINT) AS sx,
                    CAST(sum(x * x) AS HUGEINT) AS sxx FROM {src}),
    m{k} AS (SELECT idx, x,
                    CAST(abs(n * x - sx) AS DOUBLE) AS dev,
                    CAST(n AS DOUBLE) AS n,
                    CAST(n * sxx - sx * sx AS DOUBLE) AS cxx
             FROM {src} CROSS JOIN s{k}
             ORDER BY abs(n * x - sx) DESC, idx LIMIT 1),
    ser{k + 1} AS (SELECT * FROM {src}
                   WHERE idx <> (SELECT idx FROM m{k}))"""


@register(
    "events_gesd_outliers",
    oracle=f"""
    WITH {_GESD_SERIES_SQL},
    ser1 AS (SELECT * FROM series),
    {",".join(_gesd_round_sql(k, f"ser{k}") for k in range(1, GESD_ROUNDS + 1))}
    SELECT * FROM (
        {" UNION ALL ".join(
            f'''SELECT {k} AS round, CAST(idx AS BIGINT) AS day_index,
                CAST(x AS BIGINT) AS day_count,
                {sql_stable_round4(_GESD_R)} AS r_stat FROM m{k}'''
            for k in range(1, GESD_ROUNDS + 1)
        )}
    ) ORDER BY round
    """,
)
def events_gesd_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized extreme studentized deviate screen (Rosner 1983) on
    the daily event-count series, {GESD_ROUNDS} rounds unrolled: each
    round removes the most-deviant remaining day and reports its
    studentized R — the ITERATIVE outlier procedure that stays valid
    when outliers mask each other (a single z-score pass, dq_outliers
    style, underestimates sigma in the presence of a second outlier;
    ESD re-estimates after every removal). Critical-value lookup
    (t-quantiles) is deliberately out of the relational contract, as
    with agg_ab_ttest.

    Determinism: each round's argmax compares the EXACT integer
    |n*x - sx| with an idx tie-break (n is constant within the round,
    so this IS the |x - mean| argmax) — the selection can never flip on
    a float; R is one expression over exact-integer casts,
    stable_round4.

    Scale shape: the fact stream collapses once to |days| rows; each
    round is a scalar aggregate + a 1-row broadcast anti-join on the
    bounded series. Rounds are fixed (no data-dependent iteration
    count), so the plan is static.
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.count("*").alias("c")
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
    remaining = (
        grid.join(di, "idx", "left")
        .select("idx", F.coalesce("c", F.lit(0)).cast("decimal(38,0)").alias("x"))
        .persist()  # all three rounds walk this bounded frame
    )
    picked = []
    for k in range(1, GESD_ROUNDS + 1):
        st = remaining.agg(
            F.count("*").cast("decimal(38,0)").alias("n"),
            F.sum("x").alias("sx"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )
        dev = remaining.crossJoin(F.broadcast(st)).withColumn(
            "adev", F.abs(F.col("n") * F.col("x") - F.col("sx"))
        )
        m = (
            top_k(dev, [], [F.col("adev").desc(), F.col("idx")])
            .select(
                F.lit(k).alias("round"),
                F.col("idx"),
                F.col("x"),
                F.col("adev").cast("double").alias("dev"),
                F.col("n").cast("double").alias("n"),
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                .cast("double")
                .alias("cxx"),
            )
        )
        picked.append(m)
        remaining = remaining.join(
            F.broadcast(m.select("idx")), "idx", "left_anti"
        )
    out = picked[0]
    for m in picked[1:]:
        out = out.unionByName(m)
    return out.selectExpr(
        "round",
        "CAST(idx AS BIGINT) AS day_index",
        "CAST(x AS BIGINT) AS day_count",
        f"CAST({sql_stable_round4(_GESD_R)} AS DOUBLE) AS r_stat",
    ).orderBy("round")


# --------------------------------------------------------------------------
# priv_randomized_response — local-DP bit collection with debiasing
# --------------------------------------------------------------------------

from ..operators.sampling import hash_bucket, sql_hash_bucket  # noqa: E402

# Warner (1965) randomized response with truth probability 3/4
# (eps = ln(3) local DP): each user reports the true bit with p = 3/4,
# else a fair coin. E[obs] = 3/4 pi + 1/8, so the debiased estimate
# pi_hat = (8*obs - n) / (6*n) is an exact integer ratio.
_RR_TRUE = "(tp / n)"
_RR_EST = "((8.0 * rp - n) / (6.0 * n))"
_RR_ERR = f"(abs({_RR_EST} - {_RR_TRUE}))"


@register(
    "priv_randomized_response",
    oracle=f"""
    WITH ub AS (
        SELECT user_id,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS truth
        FROM events GROUP BY 1),
    coins AS (
        SELECT truth,
               {sql_hash_bucket("'rr1-' || CAST(user_id AS VARCHAR)", 4)}
                   AS c1,
               {sql_hash_bucket("'rr2-' || CAST(user_id AS VARCHAR)", 2)}
                   AS c2
        FROM ub),
    rep AS (
        SELECT truth,
               CASE WHEN c1 < 3 THEN truth ELSE c2 END AS reported
        FROM coins),
    st AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(truth) AS DOUBLE) AS tp,
               CAST(sum(reported) AS DOUBLE) AS rp
        FROM rep)
    SELECT CAST(n AS BIGINT) AS n_users,
           CAST(tp AS BIGINT) AS true_positives,
           CAST(rp AS BIGINT) AS reported_positives,
           {sql_stable_round4(_RR_TRUE)} AS true_rate,
           {sql_stable_round4(_RR_EST)} AS estimated_rate,
           {sql_stable_round4(_RR_ERR)} AS abs_error
    FROM st
    """,
)
def priv_randomized_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warner's randomized response (1965) — the local-DP mechanism: each
    user reports whether they purchased TRUTHFULLY with p = 3/4, else
    answers a fair coin (eps = ln 3 per user; the analyst never sees a
    trustworthy individual bit), then the population rate is recovered
    by debiasing, pi_hat = (8*obs - n)/(6n). Completes the privacy kit:
    priv_dp_counts is central DP (noise at the aggregator),
    dq_k_anonymity/l_diversity/t_closeness audit the released table —
    this is the device-side mechanism.

    Determinism: the per-user coins are md5-buckets of salted user ids
    (the house rand() substitute — sample_deterministic's mechanism), so
    the "randomized" report is engine-exact and the whole mechanism is
    replayable; truth, reports, and the debiased estimate are exact
    integer ratios, one division each, stable_round4.

    Scale shape: one shuffle to per-user truth bits, a per-row coin map,
    one scalar aggregate. The mechanism column never leaves the row it
    was minted on — exactly how a device-local mechanism distributes.
    """
    e = load(spark, sf_dir, "events")
    ub = e.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("truth")
    )
    uid = F.col("user_id").cast("string")
    coins = ub.select(
        "truth",
        hash_bucket(F.concat(F.lit("rr1-"), uid), 4).alias("c1"),
        hash_bucket(F.concat(F.lit("rr2-"), uid), 2).alias("c2"),
    )
    rep = coins.select(
        "truth",
        F.when(F.col("c1") < 3, F.col("truth"))
        .otherwise(F.col("c2"))
        .alias("reported"),
    )
    st = rep.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("truth").cast("double").alias("tp"),
        F.sum("reported").cast("double").alias("rp"),
    )
    return st.selectExpr(
        "CAST(n AS BIGINT) AS n_users",
        "CAST(tp AS BIGINT) AS true_positives",
        "CAST(rp AS BIGINT) AS reported_positives",
        f"CAST({sql_stable_round4(_RR_TRUE)} AS DOUBLE) AS true_rate",
        f"CAST({sql_stable_round4(_RR_EST)} AS DOUBLE) AS estimated_rate",
        f"CAST({sql_stable_round4(_RR_ERR)} AS DOUBLE) AS abs_error",
    )


# --------------------------------------------------------------------------
# emb_pair_cosine_histogram — blocked pairwise-similarity distribution
# --------------------------------------------------------------------------

from .dedup import cosine, sql_cosine  # noqa: E402

COS_HIST_BINS = 20  # width-0.1 bins over [-1, 1]
# size-adaptive MEMBER sampling (round 7, VERDICT r6 "what's wrong" #3):
# blocks under this size histogram EVERY pair exactly; above it a
# deterministic md5 MEMBER-sample keeps ~this many members per block
# BEFORE the self-join, so pair ENUMERATION — not just the cosine — is
# bounded at ~CAP²/2 per block. (Round 6 sampled PAIRS after the join:
# the join still materialized O(m²) rows per block and only the cosine
# was linear.) A random member subset induces a uniform pair sample
# (every pair kept with probability p², independent of the pair), so the
# histogram stays an unbiased estimate of the all-pairs distribution.
COS_HIST_EXACT_BLOCK = 400


@register(
    "emb_pair_cosine_histogram",
    oracle=f"""
    WITH bs AS (
        SELECT label, CAST(count(*) AS BIGINT) AS m
        FROM embeddings GROUP BY 1),
    kept AS (
        SELECT e.* FROM embeddings e JOIN bs ON bs.label = e.label
        WHERE CAST(('0x' || substr(md5('coshist-'
                    || CAST(e.vec_id AS VARCHAR)), 1, 8)) AS BIGINT)
              % greatest(1, m // {COS_HIST_EXACT_BLOCK}) = 0),
    pairs AS (
        SELECT {sql_cosine('a.embedding', 'b.embedding')} AS cs
        FROM kept a JOIN kept b
          ON a.label = b.label AND a.vec_id < b.vec_id),
    binned AS (
        SELECT least(greatest(CAST(floor((cs + 1.0) * 10.0) AS INT), 0),
                     {COS_HIST_BINS - 1}) AS bin
        FROM pairs)
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(bin AS DOUBLE) / 10.0 - 1.0 AS bin_lo,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM binned GROUP BY bin ORDER BY bin
    """,
)
def emb_pair_cosine_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of pairwise cosine similarity inside label blocks —
    the calibration relation behind every similarity threshold in the
    repo: before picking dedup_embedding_cosine's 0.45 or an ANN radius,
    look at where the mass actually sits (a bimodal histogram separates
    near-dup pairs from background; a flat one says the threshold is
    fiction). 20 width-0.1 bins over [-1, 1].

    Scale shape: pairs come from the SAME label-blocked equi-join the
    dedup op uses — never all-pairs across labels — and a SIZE-ADAPTIVE
    deterministic MEMBER sample bounds the join itself (round-7 fix,
    VERDICT r6: the previous PAIR sample filtered AFTER the join, so
    enumeration was still O(m²) per block): blocks under
    {COS_HIST_EXACT_BLOCK} members keep every member and histogram every
    pair exactly (the test-SF behavior); bigger blocks keep 1 in
    (m div {COS_HIST_EXACT_BLOCK}) members by a salted md5 of the MEMBER
    id — ~{COS_HIST_EXACT_BLOCK} survivors per block — so the self-join
    input, output, and cosine work are all capped per block regardless
    of block size. A uniform member subset induces a uniform pair sample
    (each pair survives with the same p²), so the histogram remains an
    unbiased estimate. The output is a 20-row relation at any SF.

    Determinism: the member keep-rule is an md5 bucket of the salted
    vec_id (identical in both engines); the cosine is the house
    sequential left-to-right fold (bit-identical in both engines); the
    bin index is floor of that identical double, clamped — integer
    counts from then on.
    """
    emb = load(spark, sf_dir, "embeddings")
    bs = emb.groupBy("label").agg(F.count("*").cast("long").alias("m"))
    kept = (
        emb.join(F.broadcast(bs), "label")
        .filter(
            F.expr(
                "pmod(CAST(conv(substr(md5(concat('coshist-',"
                " CAST(vec_id AS STRING))), 1, 8), 16, 10) AS BIGINT),"
                f" greatest(1, m div {COS_HIST_EXACT_BLOCK})) = 0"
            )
        )
        .select("label", "vec_id", "embedding")
    )
    # per-member norms computed BEFORE the self-join (dedup.vec_norm):
    # one array fold per pair instead of cosine()'s three; dot/(na*nb)
    # is bit-identical so the oracle keeps the inline form
    from .dedup import dot_double, vec_norm

    a = kept.select(
        F.col("label").alias("la"),
        F.col("vec_id").alias("ida"),
        F.col("embedding").alias("ea"),
        vec_norm(F.col("embedding")).alias("na"),
    )
    b = kept.select(
        F.col("label").alias("lb"),
        F.col("vec_id").alias("idb"),
        F.col("embedding").alias("eb"),
        vec_norm(F.col("embedding")).alias("nb"),
    )
    pairs = a.join(
        b,
        (F.col("la") == F.col("lb")) & (F.col("ida") < F.col("idb")),
    ).select(
        (
            dot_double(F.col("ea"), F.col("eb"))
            / (F.col("na") * F.col("nb"))
        ).alias("cs")
    )
    binned = pairs.select(
        F.least(
            F.greatest(
                F.floor((F.col("cs") + 1.0) * 10.0).cast("int"), F.lit(0)
            ),
            F.lit(COS_HIST_BINS - 1),
        ).alias("bin")
    )
    return (
        binned.groupBy("bin")
        .agg(F.count("*").cast("long").alias("n_pairs"))
        .select(
            F.col("bin").cast("long").alias("bin"),
            (F.col("bin").cast("double") / 10.0 - 1.0).alias("bin_lo"),
            "n_pairs",
        )
        .orderBy("bin")
    )


# --------------------------------------------------------------------------
# events_logrank_test — two-arm log-rank test over the KM risk sets
# --------------------------------------------------------------------------

# Round-10 overflow sweep: was 1e12, which ceilinged the quantized
# per-time expectation (<= risk-set size * SCALE) at ~9.2e6 — near
# fixture scale. 1e6 buys ~9.2e12 risk-set headroom; the 1e-6 quantum
# stays two orders below the 4-decimal chi2 output rounding.
LR_SCALE = 1_000_000  # per-time E/V terms quantized at 1e-6
LR_CENSOR_GAP_S = 7 * 86400  # same censoring rule as events_kaplan_meier

# per-event-time expectation and variance terms (Mantel 1966), each ONE
# division of exact integers, quantized BEFORE the time sum. dt*n1
# widens through DECIMAL(19,0) (p1+p2 <= 38, the DuckDB bind cap):
# the LONG product wraps at ~3e9 deaths x risk-set rows, silently in
# Spark, as an ERROR in DuckDB; the decimal product converts to DOUBLE
# with the identical single rounding.
_LR_E1 = (
    f"CAST(floor({LR_SCALE}.0 *"
    " (CAST(CAST(dt AS DECIMAL(19,0)) * n1 AS DOUBLE) / nt))"
    " AS BIGINT)"
)
_LR_V = (
    f"CAST(floor({LR_SCALE}.0 *"
    " (CAST(CAST(dt AS DECIMAL(19,0)) * n1 AS DOUBLE) * n2 * (nt - dt)"
    " / (CAST(nt AS DOUBLE) * nt * (nt - 1.0)))) AS BIGINT)"
)
_LR_CHI2 = (
    f"(CASE WHEN sv > 0 THEN (o1 - se / {LR_SCALE}.0)"
    f" * (o1 - se / {LR_SCALE}.0) / (sv / {LR_SCALE}.0)"
    " ELSE NULL END)"
)


@register(
    "events_logrank_test",
    oracle=f"""
    WITH bounds AS (SELECT max(ts) AS mx FROM events),
    u AS (
        SELECT user_id,
               CAST(('0x' || substr(md5('lr-' || CAST(user_id AS VARCHAR)),
                     1, 8)) AS BIGINT) % 2 AS grp,
               CAST(floor((epoch(max(ts)) - epoch(min(ts))) / 86400.0)
                    AS BIGINT) AS dur_days,
               epoch(max(b.mx)) - epoch(max(ts)) > {LR_CENSOR_GAP_S}
                   AS churned
        FROM events CROSS JOIN bounds b
        GROUP BY user_id),
    t AS (SELECT CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT)
                     AS t1,
                 CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS t2
          FROM u),
    d AS (
        SELECT dur_days,
               CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS end1,
               CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS end2,
               CAST(sum(CASE WHEN grp = 0 AND churned THEN 1 ELSE 0 END)
                    AS BIGINT) AS d1,
               CAST(sum(CASE WHEN grp = 1 AND churned THEN 1 ELSE 0 END)
                    AS BIGINT) AS d2
        FROM u GROUP BY dur_days),
    r AS (
        SELECT dur_days, d1, d2,
               t.t1 - coalesce(sum(end1) OVER (
                   ORDER BY dur_days
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS n1,
               t.t2 - coalesce(sum(end2) OVER (
                   ORDER BY dur_days
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS n2
        FROM d CROSS JOIN t),
    terms AS (
        SELECT d1, d1 + d2 AS dt, n1, n2, n1 + n2 AS nt
        FROM r WHERE d1 + d2 > 0 AND n1 + n2 >= 2),
    s AS (
        SELECT CAST(sum(d1) AS DOUBLE) AS o1,
               CAST(sum({_LR_E1}) AS DOUBLE) AS se,
               CAST(sum({_LR_V}) AS DOUBLE) AS sv,
               CAST(count(*) AS BIGINT) AS n_times
        FROM terms)
    SELECT t1 AS n_users_a, t2 AS n_users_b, n_times,
           CAST(o1 AS BIGINT) AS observed_a,
           {sql_stable_round4(f'(se / {LR_SCALE}.0)')} AS expected_a,
           {sql_stable_round4(_LR_CHI2)} AS logrank_chi2
    FROM s CROSS JOIN t
    """,
)
def events_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-arm log-rank test (Mantel 1966) over the Kaplan-Meier risk
    sets: users are split into deterministic A/B arms (salted md5
    parity — the house rand() substitute), and at every churn time the
    observed arm-A churn is compared to its hypergeometric expectation
    given the joint risk set. THE test that goes with a survival curve:
    events_kaplan_meier draws the curve, this says whether two cohorts'
    curves differ (chi2 ~ X2(1) under the null — and under this null
    split it should be small, the negative-control reading).

    Determinism: lifetimes, censoring, risk sets, and churn counts are
    the KM op's exact integers (same censor rule, same
    strictly-preceding cumulative risk-set construction, no self-join);
    each time's E and V terms are ONE division of exact integers
    quantized at 1e-6 BEFORE the time sum; chi2 is expression text
    with an explicit zero-variance guard.

    Scale shape: one user-keyed aggregate over the corpus, then
    everything runs on the |distinct lifetimes|-bounded curve table
    (single-partition windows over that tiny frame only).
    """
    e = load(spark, sf_dir, "events")
    bounds = e.agg(F.max("ts").alias("mx"))
    u = (
        e.join(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.floor(
                (
                    F.max(F.col("ts").cast("double"))
                    - F.min(F.col("ts").cast("double"))
                )
                / 86400.0
            )
            .cast("long")
            .alias("dur_days"),
            (
                F.max(F.col("mx").cast("double"))
                - F.max(F.col("ts").cast("double"))
                > LR_CENSOR_GAP_S
            ).alias("churned"),
        )
        .withColumn(
            "grp",
            hash_bucket(
                F.concat(F.lit("lr-"), F.col("user_id").cast("string")), 2
            ),
        )
    )
    t = u.agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("long")
        .alias("t1"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("long")
        .alias("t2"),
    )
    d = u.groupBy("dur_days").agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("long")
        .alias("end1"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("long")
        .alias("end2"),
        F.sum(F.when((F.col("grp") == 0) & F.col("churned"), 1).otherwise(0))
        .cast("long")
        .alias("d1"),
        F.sum(F.when((F.col("grp") == 1) & F.col("churned"), 1).otherwise(0))
        .cast("long")
        .alias("d2"),
    )
    wprev = W.orderBy("dur_days").rowsBetween(W.unboundedPreceding, -1)
    r = d.crossJoin(F.broadcast(t)).select(
        "d1",
        "d2",
        (
            F.col("t1")
            - F.coalesce(F.sum("end1").over(wprev), F.lit(0))
        ).alias("n1"),
        (
            F.col("t2")
            - F.coalesce(F.sum("end2").over(wprev), F.lit(0))
        ).alias("n2"),
    )
    terms = r.filter(
        ((F.col("d1") + F.col("d2")) > 0)
        & ((F.col("n1") + F.col("n2")) >= 2)
    ).select(
        "d1",
        (F.col("d1") + F.col("d2")).alias("dt"),
        "n1",
        "n2",
        (F.col("n1") + F.col("n2")).alias("nt"),
    )
    s = terms.agg(
        F.sum("d1").cast("double").alias("o1"),
        F.sum(F.expr(_LR_E1)).cast("double").alias("se"),
        F.sum(F.expr(_LR_V)).cast("double").alias("sv"),
        F.count("*").cast("long").alias("n_times"),
    )
    return s.crossJoin(F.broadcast(t)).selectExpr(
        "t1 AS n_users_a",
        "t2 AS n_users_b",
        "n_times",
        "CAST(o1 AS BIGINT) AS observed_a",
        f"CAST({sql_stable_round4(f'(se / {LR_SCALE}.0)')} AS DOUBLE)"
        " AS expected_a",
        f"CAST({sql_stable_round4(_LR_CHI2)} AS DOUBLE) AS logrank_chi2",
    )


# --------------------------------------------------------------------------
# ts_seasonal_strength — variance explained by the day-of-week cycle
# --------------------------------------------------------------------------

SS_SCALE = 1_000_000  # per-group s_g^2/n_g quantized at 1e-6

# between-group mass term per dow group: one exact-integer division,
# quantized BEFORE the 7-row sum. sg*sg widens through DECIMAL(19,0)
# before the multiply (round-10 overflow sweep): the bare LONG product
# wraps at sg > ~3e9 events per weekday-group — silent in Spark, an
# ERROR in DuckDB — while the decimal product is exact in both and
# converts to DOUBLE with the identical single rounding the old form
# had wherever it didn't wrap. (19,0) and not (38,0) because DuckDB
# binds decimal multiplies at p1+p2 <= 38. The quantized BIGINT itself
# still ceilings at 2^63 (floor() on a double returns LONG in Spark) —
# that residual bound is assert-guarded in the Spark function, loud
# not silent.
_SS_GTERM = (
    f"CAST(floor({SS_SCALE}.0 *"
    " (CAST(CAST(sg AS DECIMAL(19,0)) * sg AS DOUBLE) / ng))"
    " AS BIGINT)"
)
_SS_SSB = f"(sbq / {SS_SCALE}.0 - s * s / n)"
_SS_SST = "(ss - s * s / n)"
# degenerate guards (the ANSI divide-by-zero class): a constant series
# has SST = 0 (strength undefined); a PERFECT weekly pattern has
# SSwithin = 0 (F infinite) — both surface as NULL, never a crash:
_SS_STRENGTH = (
    f"(CASE WHEN {_SS_SST} > 0 THEN {_SS_SSB} / {_SS_SST}"
    " ELSE NULL END)"
)
_SS_F = (
    f"(CASE WHEN ({_SS_SST} - {_SS_SSB}) > 0 AND n > k"
    f" THEN ({_SS_SSB} / (k - 1.0))"
    f" / (({_SS_SST} - {_SS_SSB}) / (n - k)) ELSE NULL END)"
)


@register(
    "ts_seasonal_strength",
    oracle=f"""
    WITH daily AS (
        SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1),
    dw AS (SELECT CAST(dayofweek(d) AS BIGINT) AS dow, c FROM daily),
    g AS (
        SELECT dow, CAST(count(*) AS BIGINT) AS ng,
               CAST(sum(c) AS BIGINT) AS sg
        FROM dw GROUP BY 1),
    tq AS (SELECT CAST(sum({_SS_GTERM}) AS DOUBLE) AS sbq,
                  CAST(count(*) AS DOUBLE) AS k
           FROM g),
    tot AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(c) AS DOUBLE) AS s,
               CAST(sum(c * c) AS DOUBLE) AS ss
        FROM dw)
    SELECT CAST(n AS BIGINT) AS n_days, CAST(k AS BIGINT) AS n_groups,
           {sql_stable_round4(_SS_STRENGTH)} AS seasonal_strength,
           {sql_stable_round4(_SS_F)} AS f_stat
    FROM tq CROSS JOIN tot
    """,
)
def ts_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fraction of daily-count variance explained by the day-of-week
    cycle (eta-squared of a one-way ANOVA on weekday groups) plus the F
    statistic — the one-number answer to "how STRONG is the weekly
    rhythm" that ts_dominant_period locates and ts_dow_profile shapes
    (near 0: no weekly structure; near 1: the weekday determines the
    volume).

    Determinism: group masses s_g^2/n_g are one exact-integer division
    each, quantized at 1e-6 BEFORE the 7-row sum; total sums are exact
    integers; strength and F are interpolated expression text,
    stable_round4.

    Scale shape: fact collapse to |days| rows, a 7-row group aggregate,
    scalar algebra. One fact scan at any SF.
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.count("*").cast("long").alias("c")
    )
    dw = daily.select(
        (F.dayofweek("d").cast("long") - 1).alias("dow"), "c"
    ).persist()  # group masses + totals both read the |days| frame
    g = dw.groupBy("dow").agg(
        F.count("*").cast("long").alias("ng"),
        F.sum("c").cast("long").alias("sg"),
    )
    # the quantized group mass has an inherent 2^63 ceiling (see
    # _SS_GTERM comment); fail loudly instead of summing a wrapped
    # LONG. coalesce-woven (round-10 trap: a when/otherwise guard with
    # equal branches gets DELETED by CaseWhen simplification).
    guarded_gterm = (
        "coalesce(CAST(assert_true("
        f"{SS_SCALE}.0 *"
        " (CAST(CAST(sg AS DECIMAL(19,0)) * sg AS DOUBLE) / ng)"
        " < 9.0e18,"
        " 'ts_seasonal_strength: quantized group mass exceeds BIGINT;"
        " pre-aggregate the series to coarser buckets') AS BIGINT),"
        f" {_SS_GTERM})"
    )
    tq = g.agg(
        F.sum(F.expr(guarded_gterm)).cast("double").alias("sbq"),
        F.count("*").cast("double").alias("k"),
    )
    tot = dw.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("c").cast("double").alias("s"),
        # decimal product: c*c in LONG wraps at c > ~3e9 events/day
        F.sum(F.col("c").cast("decimal(19,0)") * F.col("c"))
        .cast("double")
        .alias("ss"),
    )
    return tq.crossJoin(F.broadcast(tot)).selectExpr(
        "CAST(n AS BIGINT) AS n_days",
        "CAST(k AS BIGINT) AS n_groups",
        f"CAST({sql_stable_round4(_SS_STRENGTH)} AS DOUBLE)"
        " AS seasonal_strength",
        f"CAST({sql_stable_round4(_SS_F)} AS DOUBLE) AS f_stat",
    )


# --------------------------------------------------------------------------
# ml_cmh_test — Cochran-Mantel-Haenszel stratified association test
# --------------------------------------------------------------------------

# Round-10 overflow sweep: was 1e12 (quantized per-stratum expectation
# ceilinged at ~9.2e6 rows per stratum); 1e6 buys ~9.2e12. Same change
# and rationale as LR_SCALE above.
CMH_SCALE = 1_000_000

# per-stratum expectation and variance of the (urgent, finalized) cell
# under the stratum margins, quantized before the stratum sum. mt*n1
# widens through DECIMAL(19,0) — the LONG margin product wraps at ~3e9
# rows per margin (see _LR_E1).
_CMH_E = (
    f"CAST(floor({CMH_SCALE}.0 *"
    " (CAST(CAST(mt AS DECIMAL(19,0)) * n1 AS DOUBLE) / nt))"
    " AS BIGINT)"
)
_CMH_V = (
    f"CAST(floor({CMH_SCALE}.0 *"
    " (CAST(CAST(mt AS DECIMAL(19,0)) * n1 AS DOUBLE) * n2 * (nt - mt)"
    " / (CAST(nt AS DOUBLE) * nt * (nt - 1.0)))) AS BIGINT)"
)
_CMH_CHI2 = (
    f"(CASE WHEN sv > 0 THEN (o - se / {CMH_SCALE}.0)"
    f" * (o - se / {CMH_SCALE}.0) / (sv / {CMH_SCALE}.0)"
    " ELSE NULL END)"
)


@register(
    "ml_cmh_test",
    oracle=f"""
    WITH s2 AS (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS stratum,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                   AS urgent,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS fin
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
    strata AS (
        SELECT stratum,
               CAST(sum(urgent) AS BIGINT) AS n1,
               CAST(sum(1 - urgent) AS BIGINT) AS n2,
               CAST(sum(urgent * fin) AS BIGINT) AS x1,
               CAST(sum(fin) AS BIGINT) AS mt,
               CAST(count(*) AS BIGINT) AS nt
        FROM s2 GROUP BY 1),
    ok AS (SELECT * FROM strata WHERE nt >= 2 AND n1 > 0 AND n2 > 0),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n_strata,
               CAST(sum(x1) AS DOUBLE) AS o,
               CAST(sum({_CMH_E}) AS DOUBLE) AS se,
               CAST(sum({_CMH_V}) AS DOUBLE) AS sv
        FROM ok)
    SELECT n_strata,
           CAST(o AS BIGINT) AS observed_urgent_final,
           {sql_stable_round4(f'(se / {CMH_SCALE}.0)')}
               AS expected_urgent_final,
           {sql_stable_round4(_CMH_CHI2)} AS cmh_chi2
    FROM s
    """,
)
def ml_cmh_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Mantel-Haenszel test (1959) of the urgency-finality
    association STRATIFIED by order year: each year contributes its own
    2x2 table and the test pools the per-stratum (observed - expected)
    of the urgent-and-finalized cell — the Simpson's-paradox-proof
    version of ml_two_proportion_ztest (a marginal association can
    appear or vanish when a confounder like time is controlled; CMH
    answers "does the effect hold WITHIN every year").

    Determinism: the per-stratum margins are exact integer counts from
    one conditional aggregate; each stratum's hypergeometric E and V
    are one division of exact integers quantized at 1e-6 BEFORE the
    stratum sum (the log-rank discipline — CMH and log-rank are the
    same Mantel machinery over different slicings); chi2 is expression
    text with a zero-variance guard. Degenerate strata (single-arm or
    n<2) are excluded identically in both engines.

    Scale shape: one scan, one map-side-combined aggregate to the
    |years|-row strata table, scalar algebra after.
    """
    o = load(spark, sf_dir, "orders")
    s2 = o.filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        F.year("o_orderdate").cast("long").alias("stratum"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("urgent"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("fin"),
    )
    strata = s2.groupBy("stratum").agg(
        F.sum("urgent").cast("long").alias("n1"),
        F.sum(1 - F.col("urgent")).cast("long").alias("n2"),
        F.sum(F.col("urgent") * F.col("fin")).cast("long").alias("x1"),
        F.sum("fin").cast("long").alias("mt"),
        F.count("*").cast("long").alias("nt"),
    )
    ok = strata.filter(
        (F.col("nt") >= 2) & (F.col("n1") > 0) & (F.col("n2") > 0)
    )
    s = ok.agg(
        F.count("*").cast("long").alias("n_strata"),
        F.sum("x1").cast("double").alias("o"),
        F.sum(F.expr(_CMH_E)).cast("double").alias("se"),
        F.sum(F.expr(_CMH_V)).cast("double").alias("sv"),
    )
    return s.selectExpr(
        "n_strata",
        "CAST(o AS BIGINT) AS observed_urgent_final",
        f"CAST({sql_stable_round4(f'(se / {CMH_SCALE}.0)')} AS DOUBLE)"
        " AS expected_urgent_final",
        f"CAST({sql_stable_round4(_CMH_CHI2)} AS DOUBLE) AS cmh_chi2",
    )


# --------------------------------------------------------------------------
# agg_delta_method_ratio
# --------------------------------------------------------------------------

# Ratio-metric readout R = sum(y)/sum(n) over USERS (not events), with the
# delta-method standard error that accounts for the user-level clustering
# (Deng, Knoblich & Lu, KDD 2018 — the correct SE for per-user ratio
# metrics in A/B platforms; the naive per-event SE is anti-conservative).
# All from six exact per-arm sums: k users, Sy, Sn, Syy, Snn, Syn.
#   R        = Sy / Sn
#   var_y    = (k*Syy - Sy^2) / (k*(k-1))      (sample, per user)
#   var_n    = (k*Snn - Sn^2) / (k*(k-1))
#   cov_yn   = (k*Syn - Sy*Sn) / (k*(k-1))
#   Var(R)   = (var_y - 2R cov + R^2 var_n) / (k * nbar^2),  nbar = Sn/k
_DM_R = "(sy / nullif(sn, 0.0))"
_DM_VY = "((k * syy - sy * sy) / nullif(k * (k - 1.0), 0.0))"
_DM_VN = "((k * snn - sn * sn) / nullif(k * (k - 1.0), 0.0))"
_DM_CV = "((k * syn - sy * sn) / nullif(k * (k - 1.0), 0.0))"
_DM_VAR = (
    f"(({_DM_VY} - 2.0 * {_DM_R} * {_DM_CV}"
    f" + {_DM_R} * {_DM_R} * {_DM_VN})"
    f" / nullif(k * (sn / k) * (sn / k), 0.0))"
)
_DM_SE = f"sqrt(nullif(greatest({_DM_VAR}, 0.0), 0.0))"


@register(
    "agg_delta_method_ratio",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id % 2 AS arm,
               CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                   AS y,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY user_id, user_id % 2),
    arms AS (
        SELECT arm,
               CAST(count(*) AS DOUBLE) AS k,
               CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) / 100.0 AS sy,
               CAST(sum(CAST(n AS HUGEINT)) AS DOUBLE) AS sn,
               CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) / 10000.0
                   AS syy,
               CAST(sum(CAST(n AS HUGEINT) * n) AS DOUBLE) AS snn,
               CAST(sum(CAST(y AS HUGEINT) * n) AS DOUBLE) / 100.0 AS syn
        FROM per_user GROUP BY arm)
    SELECT CAST(arm AS BIGINT) AS arm,
           CAST(k AS BIGINT) AS n_users,
           CAST(sn AS BIGINT) AS n_events,
           {sql_stable_round4(_DM_R)} AS ratio,
           {sql_stable_round4(_DM_SE)} AS se_delta,
           {sql_stable_round4(f'({_DM_R} - 1.96 * {_DM_SE})')} AS ci_lo,
           {sql_stable_round4(f'({_DM_R} + 1.96 * {_DM_SE})')} AS ci_hi
    FROM arms
    """,
)
def agg_delta_method_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method ratio-metric readout (value per event, randomized per
    USER): the experimentation-kit member for metrics whose numerator and
    denominator are both per-user sums — revenue per session, clicks per
    view. The naive SE treats events as iid and is anti-conservative
    under user clustering; the delta method Taylor-expands
    R = sum(y)/sum(n) around the user-level means and uses the user-level
    (co)variances instead (Deng, Knoblich & Lu, KDD 2018).

    Determinism: per-user y is an exact BIGINT cent sum; the six per-arm
    sufficient statistics are exact DECIMAL(38)/HUGEINT sums descaled by
    literal powers of 100; R / SE / CI expressions are interpolated
    VERBATIM into both engines and pass through stable_round4;
    zero-variance and single-user arms NULL-propagate via nullif instead
    of dividing by zero.

    Scale: one user-keyed partial agg over events (shuffle carries one
    row per user), then a 2-row arm rollup. The delta correction adds
    three extra sum columns to an aggregate the readout already runs.
    """
    e = load(spark, sf_dir, "events")
    cents = scaled_long(F.col("value"), 100)
    per_user = e.groupBy(
        (F.col("user_id") % 2).alias("arm"), "user_id"
    ).agg(
        F.sum(cents).alias("y"),
        F.count(F.lit(1)).alias("n"),
    )

    def dsum(expr: str, scale: float) -> F.Column:
        col = F.sum(F.expr(expr).cast("decimal(38,0)")).cast("double")
        return col / F.lit(scale) if scale != 1.0 else col

    arms = per_user.groupBy("arm").agg(
        F.count("*").cast("double").alias("k"),
        dsum("y", 100.0).alias("sy"),
        dsum("n", 1.0).alias("sn"),
        dsum("y * y", 10000.0).alias("syy"),
        dsum("n * n", 1.0).alias("snn"),
        dsum("y * n", 100.0).alias("syn"),
    )
    return arms.selectExpr(
        "CAST(arm AS BIGINT) AS arm",
        "CAST(k AS BIGINT) AS n_users",
        "CAST(sn AS BIGINT) AS n_events",
        f"CAST({sql_stable_round4(_DM_R)} AS DOUBLE) AS ratio",
        f"CAST({sql_stable_round4(_DM_SE)} AS DOUBLE) AS se_delta",
        f"CAST({sql_stable_round4(f'({_DM_R} - 1.96 * {_DM_SE})')} "
        "AS DOUBLE) AS ci_lo",
        f"CAST({sql_stable_round4(f'({_DM_R} + 1.96 * {_DM_SE})')} "
        "AS DOUBLE) AS ci_hi",
    )


# --------------------------------------------------------------------------
# ts_runs_test — Wald-Wolfowitz randomness test on the daily series
# --------------------------------------------------------------------------

# R = observed runs of the above/below-median sign sequence;
#   E[R]   = 2 n1 n2 / (n1+n2) + 1
#   Var[R] = 2 n1 n2 (2 n1 n2 - n1 - n2) / ((n1+n2)^2 (n1+n2 - 1))
_RT_E = "(2.0 * n1 * n2 / nullif(n1 + n2, 0.0) + 1.0)"
_RT_VAR = (
    "(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)"
    " / nullif((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0), 0.0))"
)
_RT_Z = f"((r - {_RT_E}) / sqrt(nullif(greatest({_RT_VAR}, 0.0), 0.0)))"


@register(
    "ts_runs_test",
    oracle=f"""
    WITH daily AS (
        SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1),
    rk AS (
        SELECT d, c,
               row_number() OVER (ORDER BY c, d) AS rn,
               count(*) OVER () AS n
        FROM daily),
    med AS (
        SELECT CAST(sum(CASE WHEN 2 * rn IN (n, n + 1, n + 2)
                        THEN c ELSE 0 END)
                    * (3 - sum(CASE WHEN 2 * rn IN (n, n + 1, n + 2)
                               THEN 1 ELSE 0 END)) AS BIGINT) AS med2
        FROM rk),
    signs AS (
        SELECT d, CASE WHEN 2 * c > med2 THEN 1 ELSE 0 END AS s
        FROM daily CROSS JOIN med WHERE 2 * c <> med2),
    seq AS (
        SELECT s, lag(s) OVER (ORDER BY d) AS ps FROM signs),
    agg AS (
        SELECT CAST(sum(s) AS DOUBLE) AS n1,
               CAST(sum(1 - s) AS DOUBLE) AS n2,
               CAST(1 + sum(CASE WHEN ps IS NOT NULL AND s <> ps
                            THEN 1 ELSE 0 END) AS DOUBLE) AS r
        FROM seq)
    SELECT CAST(n1 AS BIGINT) AS n_above,
           CAST(n2 AS BIGINT) AS n_below,
           CAST(r AS BIGINT) AS runs,
           {sql_stable_round4(_RT_E)} AS expected_runs,
           {sql_stable_round4(_RT_Z)} AS z_score
    FROM agg
    """,
)
def ts_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the daily event-count series: too FEW
    runs of the above/below-median sign sequence means trend/clustering,
    too MANY means oscillation — the nonparametric randomness gate that
    complements ts_ljung_box (which needs a variance) and ts_adf_test
    (which assumes an AR model). Median-equal days are dropped, per the
    standard dichotomization.

    Determinism: the median is exact via the parity-proof middle-rank
    selection (2*rn IN (n, n+1, n+2), held as 2x-median med2 so no
    half-integer ever divides), the sign sequence and run count are pure
    integer window algebra, and E[R]/z pass through shared verbatim
    expressions with nullif-guarded degenerate cases (all-above,
    single-sign, n<=1 sequences NULL-propagate).

    Scale: fact table collapses to |days| rows; everything after is
    windows over a tiny single-partition relation (documented
    single-partition smallness, same as the other ts_ ops).
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_trunc("day", F.col("ts").cast("timestamp")).alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    rk = daily.select(
        "d",
        "c",
        F.row_number().over(W.orderBy("c", "d")).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("n"),
    )
    mid = (F.col("rn") * 2 == F.col("n")) | (
        F.col("rn") * 2 == F.col("n") + 1
    ) | (F.col("rn") * 2 == F.col("n") + 2)
    med = rk.agg(
        (
            F.sum(F.when(mid, F.col("c")).otherwise(0))
            * (3 - F.sum(F.when(mid, 1).otherwise(0)))
        )
        .cast("long")
        .alias("med2")
    )
    signs = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("c") * 2 != F.col("med2"))
        .select(
            "d",
            F.when(F.col("c") * 2 > F.col("med2"), 1)
            .otherwise(0)
            .alias("s"),
        )
    )
    seq = signs.select(
        "s", F.lag("s").over(W.orderBy("d")).alias("ps")
    )
    agg = seq.agg(
        F.sum("s").cast("double").alias("n1"),
        F.sum(1 - F.col("s")).cast("double").alias("n2"),
        (
            1
            + F.sum(
                F.when(
                    F.col("ps").isNotNull()
                    & (F.col("s") != F.col("ps")),
                    1,
                ).otherwise(0)
            )
        )
        .cast("double")
        .alias("r"),
    )
    return agg.selectExpr(
        "CAST(n1 AS BIGINT) AS n_above",
        "CAST(n2 AS BIGINT) AS n_below",
        "CAST(r AS BIGINT) AS runs",
        f"CAST({sql_stable_round4(_RT_E)} AS DOUBLE) AS expected_runs",
        f"CAST({sql_stable_round4(_RT_Z)} AS DOUBLE) AS z_score",
    )


# --------------------------------------------------------------------------
# agg_paired_ttest — pre/post paired t on per-customer spend
# --------------------------------------------------------------------------

PT_SPLIT = "1998-01-01"

#   t = mean(d) / sqrt(var(d) / k),  d = post - pre cents per customer
_PT_MEAN = "(sd / k / 100.0)"
_PT_VAR = "((k * sdd - sd * sd) / nullif(k * (k - 1.0), 0.0) / 10000.0)"
_PT_T = (
    f"(({_PT_MEAN}) / sqrt(nullif(greatest({_PT_VAR}, 0.0), 0.0) / k))"
)


@register(
    "agg_paired_ttest",
    oracle=f"""
    WITH per_cust AS (
        SELECT o_custkey,
               CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '{PT_SPLIT}'
                        THEN CAST(round(o_totalprice * 100, 0) AS BIGINT)
                        ELSE 0 END)
                  - sum(CASE WHEN o_orderdate < TIMESTAMP '{PT_SPLIT}'
                        THEN CAST(round(o_totalprice * 100, 0) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS dd
        FROM orders GROUP BY o_custkey),
    agg AS (
        SELECT CAST(count(*) AS DOUBLE) AS k,
               CAST(sum(CAST(dd AS HUGEINT)) AS DOUBLE) AS sd,
               CAST(sum(CAST(dd AS HUGEINT) * dd) AS DOUBLE) AS sdd
        FROM per_cust)
    SELECT CAST(k AS BIGINT) AS n_customers,
           {sql_stable_round4(_PT_MEAN)} AS mean_diff,
           {sql_stable_round4(_PT_T)} AS t_stat
    FROM agg
    """,
)
def agg_paired_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired (dependent-samples) t-test of post-vs-pre spend per
    customer around {PT_SPLIT} — each customer is their own control, the
    design agg_cuped approximates when no clean pairing exists; together
    with the unpaired agg_ab_ttest and the rank-based alternatives this
    completes the location-test kit. d = post - pre in exact cents per
    customer; customers with orders on only one side contribute their
    one-sided total (a zero on the missing side), the standard intent-
    to-treat convention.

    Determinism: per-customer differences are exact BIGINT cent sums;
    k/Sd/Sdd are HUGEINT/DECIMAL(38) reductions descaled by literal
    powers of 100; mean/t pass through shared verbatim expressions with
    nullif-guarded k<=1 and zero-variance cases.

    Scale: one customer-keyed partial agg, one 1-row reduction —
    experiment readout at the cost of the rollup it needs anyway.
    """
    o = load(spark, sf_dir, "orders")
    cents = scaled_long(F.col("o_totalprice"), 100)
    split = F.lit(PT_SPLIT).cast("timestamp")
    per_cust = o.groupBy("o_custkey").agg(
        (
            F.sum(
                F.when(F.col("o_orderdate") >= split, cents).otherwise(0)
            )
            - F.sum(
                F.when(F.col("o_orderdate") < split, cents).otherwise(0)
            )
        )
        .cast("long")
        .alias("dd")
    )
    agg = per_cust.agg(
        F.count("*").cast("double").alias("k"),
        F.sum(F.expr("dd").cast("decimal(38,0)"))
        .cast("double")
        .alias("sd"),
        F.sum(F.expr("dd * dd").cast("decimal(38,0)"))
        .cast("double")
        .alias("sdd"),
    )
    return agg.selectExpr(
        "CAST(k AS BIGINT) AS n_customers",
        f"CAST({sql_stable_round4(_PT_MEAN)} AS DOUBLE) AS mean_diff",
        f"CAST({sql_stable_round4(_PT_T)} AS DOUBLE) AS t_stat",
    )


# --------------------------------------------------------------------------
# ml_power_analysis — two-proportion sample-size calculator (A/B design)
# --------------------------------------------------------------------------

PWR_MDE = 0.02            # minimum detectable effect, absolute
PWR_Z_ALPHA = 1.959963985  # z_{0.975}: two-sided alpha = 0.05
PWR_Z_BETA = 0.8416212336  # z_{0.80}: power = 80%

_PWR_P2 = f"(p1 + {PWR_MDE})"
_PWR_N = (
    f"ceil(pow({PWR_Z_ALPHA} * sqrt(2.0 * ((p1 + {_PWR_P2}) / 2.0)"
    f" * (1.0 - (p1 + {_PWR_P2}) / 2.0))"
    f" + {PWR_Z_BETA} * sqrt(p1 * (1.0 - p1)"
    f" + {_PWR_P2} * (1.0 - {_PWR_P2})), 2)"
    f" / ({PWR_MDE} * {PWR_MDE}))"
)


@register(
    "ml_power_analysis",
    oracle=f"""
    WITH st AS (
        SELECT
            CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                     THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
            CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                          AND o_orderstatus = 'F'
                     THEN 1 ELSE 0 END) AS DOUBLE) AS x1
        FROM orders),
    base AS (SELECT n1, x1, x1 / nullif(n1, 0.0) AS p1 FROM st)
    SELECT CAST(n1 AS BIGINT) AS current_n,
           {sql_stable_round4('p1')} AS p_base,
           {sql_stable_round4(_PWR_P2)} AS p_alt,
           CAST({_PWR_N} AS BIGINT) AS n_per_arm,
           CAST(2 * {_PWR_N} AS BIGINT) AS total_n,
           n1 >= {_PWR_N} AS powered
    FROM base
    """,
)
def ml_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion SAMPLE-SIZE calculator — the design-side member of
    the experimentation kit (the others read out a finished test; this
    one answers "how many units do we need" BEFORE the test): per-arm
    n = (z_a*sqrt(2*pbar*qbar) + z_b*sqrt(p1q1 + p2q2))^2 / MDE^2 for the
    fixture's urgent-order finality rate as baseline, an absolute
    {PWR_MDE} MDE, two-sided alpha 0.05 and 80% power, plus whether the
    current arm size is already sufficient.

    Determinism: the z quantiles are LITERAL constants (no inverse-normal
    at runtime); everything else is +,*,/ and IEEE-correctly-rounded
    sqrt/pow(x,2) over identical exact-count-derived doubles, so the ceil
    lands on the same integer in both engines.

    Scale shape: one scalar conditional aggregate; nothing wider than a
    row moves."""
    o = load(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority") == "1-URGENT"
    fin = F.col("o_orderstatus") == "F"
    st = o.agg(
        F.sum(F.when(urgent, 1).otherwise(0)).cast("double").alias("n1"),
        F.sum(F.when(urgent & fin, 1).otherwise(0))
        .cast("double")
        .alias("x1"),
    )
    base = st.selectExpr("n1", "x1", "x1 / nullif(n1, 0.0) AS p1")
    return base.selectExpr(
        "CAST(n1 AS BIGINT) AS current_n",
        f"CAST({sql_stable_round4('p1')} AS DOUBLE) AS p_base",
        f"CAST({sql_stable_round4(_PWR_P2)} AS DOUBLE) AS p_alt",
        f"CAST({_PWR_N} AS BIGINT) AS n_per_arm",
        f"CAST(2 * {_PWR_N} AS BIGINT) AS total_n",
        f"n1 >= {_PWR_N} AS powered",
    )
