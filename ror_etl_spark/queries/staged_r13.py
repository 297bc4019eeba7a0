"""Unserved operators: implemented and oracle-equipped, checked under
pytest (``tests/test_staged_r13.py``), but never imported by
``queries.load()``, so neither the registry nor the driver reaches them.
The module is kept only while its tests are retired a batch at a time;
nothing may register from it.

Contents: the DIAGNOSTIC & ROBUSTNESS layer — residual diagnostics
for the regression closures the registry already carries (Jarque-Bera
normality, Durbin-Watson autocorrelation, Breusch-Pagan
heteroskedasticity, Grubbs max-outlier), long-memory and complexity
screens for the daily series (rescaled-range Hurst exponent, ordinal
permutation entropy, Haar wavelet energy ladder, max drawdown,
single-split binary-segmentation changepoint, Theil's U forecast
skill), heteroscedasticity-robust group comparisons (Welch ANOVA,
Bartlett, Tukey q statistics, Epps-Singleton characteristic-function
two-sample test), privacy closures completing the k-anon/l-div family
(t-closeness via ordered EMD, DP exponential mechanism over the Lehmer
stream), spectral embedding diagnostics (top principal component via
quantized power iteration, k-means elbow inertia ladder), sparse-graph
kernels (personalized PageRank, k-truss), the cell-blocked geo k-NN
scale path whose recall the registered broadcast k-NN oracles, and
incremental product-state closures (two-batch sessionize merge proven
against the full-corpus sessionizer, session-depth half-life fit,
BPE tokenizer fertility by language), plus revenue-weighted quantiles
over the discrete quantity domain and a Simpson's-paradox reversal
screen; inequality/association/unit-root closures, exact
1-Wasserstein, centrality and robust-regression kernels; Chao1
unseen-vocabulary richness, Cronbach's alpha
(zero-cell-free sufficient statistics), Page-Hinkley drift,
Hotelling's T-squared two-sample test, and the Calinski-Harabasz
variance-ratio index completing the clustering-validity triad.

Every entry follows the registry discipline (registry.py module
docstring): identical aliases both sides, epsilon-shifted rounding on
floats, deterministic total orders for every rank/tiebreak, and the
strict dtype rule (tests mirror tools/check.py's comparison —
int32-vs-int64 drift fails in staging, not at the driver).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark.storagelevel import StorageLevel

from ror_etl_spark.tables import Tables

QueryFn = Callable[[SparkSession, str], DataFrame]

_DISK_ONLY = StorageLevel.DISK_ONLY

STAGED: dict[str, tuple[QueryFn, str | None]] = {}


def staged(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in STAGED:
            raise ValueError(f"duplicate staged query: {name}")
        STAGED[name] = (fn, " ".join(oracle.split()) if oracle else None)
        return fn

    return deco


# ---------------------------------------------------------------------------
# Shared daily purchase-revenue frame (the staged_r12 spectral/ITS frame)
# ---------------------------------------------------------------------------

_DAILY_SQL = """daily AS (
      SELECT CAST(date_diff('day', TIMESTAMP '2024-01-01', ts) AS BIGINT)
               AS t,
             sum(value) AS y
      FROM events WHERE event_type = 'purchase' GROUP BY 1)"""


def _daily_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily purchase revenue keyed by day index t — ONE data-sized
    groupBy; everything downstream operates on the bounded
    (|days| ~ 366-row) frame, so single-partition windows over it are
    domain-bounded, not data-sized."""
    e = Tables(spark, sf_dir).events.filter(F.col("event_type") == "purchase")
    return e.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("t")
    ).agg(F.sum("value").alias("y"))


# ---------------------------------------------------------------------------
# Residual & distribution diagnostics on the daily series
# ---------------------------------------------------------------------------


@staged(
    "jarque_bera_daily_revenue",
    oracle=f"""
    WITH {_DAILY_SQL},
    mu AS (SELECT avg(y) AS m, count(*) AS n FROM daily),
    cm AS (
      SELECT max(mu.n) AS n,
             sum((d.y - mu.m) * (d.y - mu.m)) / max(mu.n) AS m2,
             sum((d.y - mu.m) * (d.y - mu.m) * (d.y - mu.m)) / max(mu.n)
               AS m3,
             sum((d.y - mu.m) * (d.y - mu.m) * (d.y - mu.m) * (d.y - mu.m))
               / max(mu.n) AS m4
      FROM daily d CROSS JOIN mu)
    SELECT CAST(n AS BIGINT) AS n_days,
           round(m3 / (m2 ^ 1.5) + 1e-9, 6) AS skewness,
           round(m4 / (m2 * m2) - 3.0 + 1e-9, 6) AS excess_kurtosis,
           round(n / 6.0 * ((m3 / (m2 ^ 1.5)) * (m3 / (m2 ^ 1.5))
                 + (m4 / (m2 * m2) - 3.0) * (m4 / (m2 * m2) - 3.0) / 4.0)
                 + 1e-9, 6) AS jb_stat
    FROM cm
    """,
)
def jarque_bera_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test of the daily purchase-revenue series:
    JB = n/6·(g1² + g2²/4) from sample skewness g1 = m3/m2^1.5 and
    excess kurtosis g2 = m4/m2² − 3. The residual-normality companion
    to the registered OLS/AR closures — a large JB says prediction
    intervals built on normal quantiles are lying.

    Scale shape: central moments are computed TWO-PASS (mean first,
    then centered power sums) rather than from raw moments E[y⁴] —
    the raw-moment identity cancels catastrophically at revenue scale
    (y⁴ ~ 1e24) and would let summation order flip the 6th decimal
    between engines. Both passes are partial-agg friendly; only the
    daily rollup sees data."""
    daily = _daily_df(spark, sf_dir)
    mu = daily.agg(F.avg("y").alias("m"), F.count(F.lit(1)).alias("n"))
    d = F.col("y") - F.col("m")
    cm = (
        daily.crossJoin(F.broadcast(mu))
        .agg(
            F.max("n").alias("n"),
            (F.sum(d * d) / F.max("n")).alias("m2"),
            (F.sum(d * d * d) / F.max("n")).alias("m3"),
            (F.sum(d * d * d * d) / F.max("n")).alias("m4"),
        )
    )
    g1 = F.col("m3") / F.pow(F.col("m2"), 1.5)
    g2 = F.col("m4") / (F.col("m2") * F.col("m2")) - 3.0
    return cm.select(
        F.col("n").cast("long").alias("n_days"),
        F.round(g1 + 1e-9, 6).alias("skewness"),
        F.round(g2 + 1e-9, 6).alias("excess_kurtosis"),
        F.round(
            F.col("n") / 6.0 * (g1 * g1 + g2 * g2 / 4.0) + 1e-9, 6
        ).alias("jb_stat"),
    )


@staged(
    "durbin_watson_daily_revenue",
    oracle=f"""
    WITH {_DAILY_SQL},
    mo AS (
      SELECT count(*) AS n, avg(t) AS mt, avg(y) AS my,
             covar_pop(t, y) AS sxy, var_pop(t) AS sxx
      FROM daily),
    res AS (
      SELECT d.t,
             d.y - (mo.my + (mo.sxy / mo.sxx) * (d.t - mo.mt)) AS e
      FROM daily d CROSS JOIN mo),
    lagged AS (
      SELECT e, lag(e) OVER (ORDER BY t) AS ep FROM res),
    dw AS (
      SELECT sum(CASE WHEN ep IS NOT NULL
                      THEN (e - ep) * (e - ep) END) AS num,
             sum(e * e) AS den
      FROM lagged)
    SELECT CAST(mo.n AS BIGINT) AS n_days,
           round(mo.sxy / mo.sxx + 1e-9, 6) AS trend_slope,
           round(dw.num / dw.den + 1e-9, 6) AS dw_stat
    FROM dw CROSS JOIN mo
    """,
)
def durbin_watson_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson first-order autocorrelation test on the residuals
    of the daily-revenue-vs-time OLS trend: DW = Σ(e_t − e_{t−1})² /
    Σe² — near 2 for independent residuals, toward 0 under positive
    serial correlation (the trend line is missing seasonal structure).
    Companion diagnostic to the registered ``ols_log_elasticity`` /
    ``ar1_forecast_backtest`` closures.

    Scale shape: the OLS fit is closed-form streaming co-moments (one
    aggregate), residuals a broadcast-scalar projection; the lag
    window runs on the bounded daily frame (~366 rows), documented
    single-partition per the bounded-frame rule."""
    daily = _daily_df(spark, sf_dir)
    mo = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("t").alias("mt"),
        F.avg("y").alias("my"),
        F.covar_pop("t", "y").alias("sxy"),
        F.var_pop("t").alias("sxx"),
    )
    res = daily.crossJoin(F.broadcast(mo)).select(
        "t",
        "n",
        (F.col("sxy") / F.col("sxx")).alias("slope"),
        (
            F.col("y")
            - (
                F.col("my")
                + (F.col("sxy") / F.col("sxx")) * (F.col("t") - F.col("mt"))
            )
        ).alias("e"),
    )
    lagged = res.select(
        "n",
        "slope",
        "e",
        F.lag("e").over(Window.orderBy("t")).alias("ep"),
    )
    dw = lagged.agg(
        F.max("n").alias("n"),
        F.max("slope").alias("slope"),
        F.sum(
            F.when(
                F.col("ep").isNotNull(),
                (F.col("e") - F.col("ep")) * (F.col("e") - F.col("ep")),
            )
        ).alias("num"),
        F.sum(F.col("e") * F.col("e")).alias("den"),
    )
    return dw.select(
        F.col("n").cast("long").alias("n_days"),
        F.round(F.col("slope") + 1e-9, 6).alias("trend_slope"),
        F.round(F.col("num") / F.col("den") + 1e-9, 6).alias("dw_stat"),
    )


@staged(
    "breusch_pagan_daily_revenue",
    oracle=f"""
    WITH {_DAILY_SQL},
    mo AS (
      SELECT count(*) AS n, avg(t) AS mt, avg(y) AS my,
             covar_pop(t, y) AS sxy, var_pop(t) AS sxx
      FROM daily),
    res AS (
      SELECT d.t,
             d.y - (mo.my + (mo.sxy / mo.sxx) * (d.t - mo.mt)) AS e
      FROM daily d CROSS JOIN mo),
    bp AS (
      SELECT count(*) AS n, corr(e * e, t) AS r
      FROM res)
    SELECT CAST(n AS BIGINT) AS n_days,
           round(r + 1e-9, 6) AS esq_t_corr,
           round(n * r * r + 1e-9, 6) AS lm_stat
    FROM bp
    """,
)
def breusch_pagan_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breusch-Pagan heteroskedasticity test on the daily-revenue
    trend residuals: regress e² on t and report LM = n·R² (one
    regressor, so R² = corr(e², t)²) — a large LM means residual
    variance itself trends, and the OLS standard errors understate
    uncertainty early or late in the year.

    Scale shape: two streaming-moment aggregates and one
    broadcast-scalar projection — no windows at all; only the daily
    rollup sees data."""
    daily = _daily_df(spark, sf_dir)
    mo = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("t").alias("mt"),
        F.avg("y").alias("my"),
        F.covar_pop("t", "y").alias("sxy"),
        F.var_pop("t").alias("sxx"),
    )
    res = daily.crossJoin(F.broadcast(mo)).select(
        "t",
        (
            F.col("y")
            - (
                F.col("my")
                + (F.col("sxy") / F.col("sxx")) * (F.col("t") - F.col("mt"))
            )
        ).alias("e"),
    )
    bp = res.agg(
        F.count(F.lit(1)).alias("n"),
        F.corr(F.col("e") * F.col("e"), F.col("t")).alias("r"),
    )
    return bp.select(
        F.col("n").cast("long").alias("n_days"),
        F.round(F.col("r") + 1e-9, 6).alias("esq_t_corr"),
        F.round(F.col("n") * F.col("r") * F.col("r") + 1e-9, 6).alias("lm_stat"),
    )


@staged(
    "grubbs_outlier_daily_revenue",
    oracle=f"""
    WITH {_DAILY_SQL},
    mo AS (SELECT count(*) AS n, avg(y) AS mu, stddev_pop(y) AS sd
           FROM daily),
    dev AS (
      SELECT d.t, d.y, abs(d.y - mo.mu) / mo.sd AS g
      FROM daily d CROSS JOIN mo),
    top AS (
      SELECT t, y, g FROM dev ORDER BY g DESC, t ASC LIMIT 1)
    SELECT CAST(mo.n AS BIGINT) AS n_days,
           CAST(top.t AS BIGINT) AS outlier_t,
           round(top.y + 1e-9, 2) AS outlier_y,
           round(top.g + 1e-9, 6) AS g_stat
    FROM top CROSS JOIN mo
    """,
)
def grubbs_outlier_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs (two-sided) max-outlier statistic on daily revenue:
    G = max|y − ȳ|/s with the offending day reported — the single-
    most-suspect-observation screen that complements the registered
    IQR/MAD streamers (those flag many, Grubbs ranks the worst one
    with a test statistic).

    Scale shape: one moment aggregate, one broadcast-scalar
    projection, and a top-1 (TakeOrderedAndProject) with a
    deterministic (g desc, t asc) tiebreak."""
    daily = _daily_df(spark, sf_dir)
    mo = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("y").alias("mu"),
        F.stddev_pop("y").alias("sd"),
    )
    dev = daily.crossJoin(F.broadcast(mo)).select(
        "t",
        "y",
        "n",
        (F.abs(F.col("y") - F.col("mu")) / F.col("sd")).alias("g"),
    )
    top = dev.orderBy(F.desc("g"), F.asc("t")).limit(1)
    return top.select(
        F.col("n").cast("long").alias("n_days"),
        F.col("t").cast("long").alias("outlier_t"),
        F.round(F.col("y") + 1e-9, 2).alias("outlier_y"),
        F.round(F.col("g") + 1e-9, 6).alias("g_stat"),
    )


@staged(
    "max_drawdown_daily_revenue",
    oracle=f"""
    WITH {_DAILY_SQL},
    mu AS (SELECT avg(y) AS m FROM daily),
    curve AS (
      SELECT d.t,
             sum(d.y - mu.m) OVER (ORDER BY d.t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      FROM daily d CROSS JOIN mu),
    dd AS (
      SELECT t, c,
             max(c) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c
               AS draw
      FROM curve),
    worst AS (SELECT t, draw FROM dd ORDER BY draw DESC, t ASC LIMIT 1)
    SELECT CAST((SELECT count(*) FROM daily) AS BIGINT) AS n_days,
           CAST(worst.t AS BIGINT) AS trough_t,
           round(worst.draw + 1e-9, 2) AS max_drawdown
    FROM worst
    """,
)
def max_drawdown_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the cumulative ABNORMAL revenue curve
    (running sum of y − ȳ): the deepest peak-to-trough fall, with the
    trough day — 'what is the worst sustained under-performance run
    this series ever had', the cumulative counterpart of the
    registered CUSUM changepoint (same curve, worst excursion instead
    of first crossing).

    Scale shape: both windows (running sum, running max) run on the
    bounded daily frame; the data-sized work is only the daily
    rollup. Top-1 with (draw desc, t asc) tiebreak."""
    daily = _daily_df(spark, sf_dir)
    mu = daily.agg(F.avg("y").alias("m"), F.count(F.lit(1)).alias("n"))
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    curve = daily.crossJoin(F.broadcast(mu)).select(
        "t", "n", F.sum(F.col("y") - F.col("m")).over(w).alias("c")
    )
    dd = curve.select(
        "t", "n", (F.max("c").over(w) - F.col("c")).alias("draw")
    )
    worst = dd.orderBy(F.desc("draw"), F.asc("t")).limit(1)
    return worst.select(
        F.col("n").cast("long").alias("n_days"),
        F.col("t").cast("long").alias("trough_t"),
        F.round(F.col("draw") + 1e-9, 2).alias("max_drawdown"),
    )


@staged(
    "changepoint_binseg_daily_revenue",
    oracle=f"""
    WITH {_DAILY_SQL},
    tot AS (SELECT count(*) AS n, sum(y) AS s1, sum(y * y) AS s2
            FROM daily),
    pre AS (
      SELECT t,
             row_number() OVER (ORDER BY t) AS k,
             sum(y) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p1,
             sum(y * y) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p2
      FROM daily),
    cost AS (
      SELECT pre.t, pre.k,
             (pre.p2 - pre.p1 * pre.p1 / pre.k)
             + ((tot.s2 - pre.p2)
                - (tot.s1 - pre.p1) * (tot.s1 - pre.p1) / (tot.n - pre.k))
               AS sse,
             pre.p1 / pre.k AS mean_left,
             (tot.s1 - pre.p1) / (tot.n - pre.k) AS mean_right,
             (tot.s2 - tot.s1 * tot.s1 / tot.n) AS sse0
      FROM pre CROSS JOIN tot
      WHERE pre.k < tot.n),
    best AS (SELECT * FROM cost ORDER BY sse ASC, t ASC LIMIT 1)
    SELECT CAST(tot.n AS BIGINT) AS n_days,
           CAST(best.t AS BIGINT) AS split_t,
           CAST(best.k AS BIGINT) AS n_left,
           round(best.mean_left + 1e-9, 2) AS mean_left,
           round(best.mean_right + 1e-9, 2) AS mean_right,
           round(best.sse0 - best.sse + 1e-9, 2) AS sse_gain
    FROM best CROSS JOIN tot
    """,
)
def changepoint_binseg_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-split binary-segmentation changepoint on daily revenue:
    the split day minimizing SSE_left + SSE_right (computed from
    prefix sums, so every candidate split is scored in one pass), with
    the two segment means and the SSE gain over the unsplit series.
    The mean-shift counterpart of the registered drift CUSUM (which
    detects crossings; this one LOCATES the best single break).

    Scale shape: prefix sums are two windows over the bounded daily
    frame; candidate scoring is a broadcast-scalar projection; top-1
    with (sse asc, t asc) tiebreak."""
    daily = _daily_df(spark, sf_dir)
    tot = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("s1"),
        F.sum(F.col("y") * F.col("y")).alias("s2"),
    )
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    pre = daily.select(
        "t",
        F.row_number().over(Window.orderBy("t")).alias("k"),
        F.sum("y").over(w).alias("p1"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("p2"),
    )
    cost = (
        pre.crossJoin(F.broadcast(tot))
        .where(F.col("k") < F.col("n"))
        .select(
            "t",
            "k",
            "n",
            (
                (F.col("p2") - F.col("p1") * F.col("p1") / F.col("k"))
                + (
                    (F.col("s2") - F.col("p2"))
                    - (F.col("s1") - F.col("p1"))
                    * (F.col("s1") - F.col("p1"))
                    / (F.col("n") - F.col("k"))
                )
            ).alias("sse"),
            (F.col("p1") / F.col("k")).alias("mean_left"),
            ((F.col("s1") - F.col("p1")) / (F.col("n") - F.col("k"))).alias(
                "mean_right"
            ),
            (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")).alias("sse0"),
        )
    )
    best = cost.orderBy(F.asc("sse"), F.asc("t")).limit(1)
    return best.select(
        F.col("n").cast("long").alias("n_days"),
        F.col("t").cast("long").alias("split_t"),
        F.col("k").cast("long").alias("n_left"),
        F.round(F.col("mean_left") + 1e-9, 2).alias("mean_left"),
        F.round(F.col("mean_right") + 1e-9, 2).alias("mean_right"),
        F.round(F.col("sse0") - F.col("sse") + 1e-9, 2).alias("sse_gain"),
    )


# ---------------------------------------------------------------------------
# Long-memory / complexity screens on the daily series
# ---------------------------------------------------------------------------


@staged(
    "hurst_rs_daily_revenue",
    oracle=f"""
    WITH {_DAILY_SQL},
    idx AS (
      SELECT y, row_number() OVER (ORDER BY t) - 1 AS rn FROM daily),
    ws AS (SELECT unnest([8, 16, 32, 64]) AS w),
    blocks AS (
      SELECT ws.w, CAST(floor(idx.rn / ws.w) AS BIGINT) AS b,
             idx.rn, idx.y
      FROM idx CROSS JOIN ws),
    sized AS (
      SELECT w, b, avg(y) AS mu, stddev_pop(y) AS sd
      FROM blocks GROUP BY w, b
      HAVING count(*) = w AND stddev_pop(y) > 0),
    dev AS (
      SELECT bl.w, bl.b, s.sd,
             sum(bl.y - s.mu) OVER (PARTITION BY bl.w, bl.b ORDER BY bl.rn
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      FROM blocks bl JOIN sized s ON s.w = bl.w AND s.b = bl.b),
    rsb AS (
      SELECT w, b, (max(c) - min(c)) / max(sd) AS rs
      FROM dev GROUP BY w, b),
    rsw AS (
      SELECT w, count(*) AS n_blocks, avg(rs) AS rs FROM rsb GROUP BY w),
    fit AS (
      SELECT covar_pop(ln(CAST(w AS DOUBLE)), ln(rs))
               / var_pop(ln(CAST(w AS DOUBLE))) AS h
      FROM rsw)
    SELECT CAST(rsw.w AS BIGINT) AS w,
           CAST(rsw.n_blocks AS BIGINT) AS n_blocks,
           round(rsw.rs + 1e-9, 6) AS rs_avg,
           round(fit.h + 1e-9, 6) AS hurst
    FROM rsw CROSS JOIN fit ORDER BY w
    """,
)
def hurst_rs_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rescaled-range (R/S) Hurst exponent of daily revenue: for block
    sizes w in {8,16,32,64}, each complete block's range of the
    mean-centered cumulative sum over its stddev, averaged per w; H is
    the log-log OLS slope across the four sizes. H ~ 0.5 for a
    memoryless series, > 0.5 for persistent (trending) revenue — the
    long-memory screen behind 'will a bigger training window help'.

    Scale shape: blocks partition the bounded daily frame, so the
    per-block cumulative window is parallel across (w, block); the
    final fit is a 4-row aggregate."""
    daily = _daily_df(spark, sf_dir)
    idx = daily.select(
        "y", (F.row_number().over(Window.orderBy("t")) - 1).alias("rn")
    )
    ws = spark.range(3, 7).select(F.pow(F.lit(2.0), F.col("id")).cast("long").alias("w"))
    blocks = idx.crossJoin(F.broadcast(ws)).select(
        "w", F.floor(F.col("rn") / F.col("w")).alias("b"), "rn", "y"
    )
    sized = (
        blocks.groupBy("w", "b")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.avg("y").alias("mu"),
            F.stddev_pop("y").alias("sd"),
        )
        .where((F.col("cnt") == F.col("w")) & (F.col("sd") > 0))
        .select("w", "b", "mu", "sd")
    )
    wc = Window.partitionBy("w", "b").orderBy("rn").rowsBetween(
        Window.unboundedPreceding, 0
    )
    dev = blocks.join(sized, ["w", "b"]).select(
        "w", "b", "sd", F.sum(F.col("y") - F.col("mu")).over(wc).alias("c")
    )
    rsb = dev.groupBy("w", "b").agg(
        ((F.max("c") - F.min("c")) / F.max("sd")).alias("rs")
    )
    rsw = rsb.groupBy("w").agg(
        F.count(F.lit(1)).alias("n_blocks"), F.avg("rs").alias("rs")
    )
    fit = rsw.agg(
        (
            F.covar_pop(F.log(F.col("w").cast("double")), F.log("rs"))
            / F.var_pop(F.log(F.col("w").cast("double")))
        ).alias("h")
    )
    return (
        rsw.crossJoin(F.broadcast(fit))
        .select(
            F.col("w").cast("long").alias("w"),
            F.col("n_blocks").cast("long").alias("n_blocks"),
            F.round(F.col("rs") + 1e-9, 6).alias("rs_avg"),
            F.round(F.col("h") + 1e-9, 6).alias("hurst"),
        )
        .orderBy("w")
    )


@staged(
    "permutation_entropy_daily_revenue",
    oracle=f"""
    WITH {_DAILY_SQL},
    idx AS (
      SELECT y, row_number() OVER (ORDER BY t) AS rn FROM daily),
    tri AS (
      SELECT y AS a,
             lead(y, 1) OVER (ORDER BY rn) AS b,
             lead(y, 2) OVER (ORDER BY rn) AS c
      FROM idx),
    pat AS (
      SELECT 4 * (CASE WHEN a > b THEN 1 ELSE 0 END)
             + 2 * (CASE WHEN b > c THEN 1 ELSE 0 END)
             + (CASE WHEN a > c THEN 1 ELSE 0 END) AS p
      FROM tri WHERE c IS NOT NULL),
    hist AS (SELECT p, count(*) AS n FROM pat GROUP BY p),
    tot AS (SELECT CAST(sum(n) AS DOUBLE) AS nt, count(*) AS np FROM hist),
    ent AS (
      SELECT -sum((h.n / tot.nt) * ln(h.n / tot.nt)) AS h, max(tot.np) AS np,
             max(tot.nt) AS nt
      FROM hist h CROSS JOIN tot)
    SELECT CAST(nt AS BIGINT) AS n_windows,
           CAST(np AS BIGINT) AS n_patterns,
           round(h + 1e-9, 6) AS perm_entropy,
           round(h / ln(6.0) + 1e-9, 6) AS normalized
    FROM ent
    """,
)
def permutation_entropy_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-3 permutation entropy of daily revenue: slide a 3-day
    window over the series, encode each window's ordinal pattern by
    its three strict pairwise comparisons (6 realizable codes of the
    8-way encoding), and take the Shannon entropy of the pattern
    histogram normalized by ln 3! = ln 6. Near 1 for structureless
    dynamics, low when a few motifs (e.g. weekly ramps) dominate —
    the complexity twin of ``spectral_entropy_daily_revenue`` that is
    robust to monotone transforms of y.

    Scale shape: two lead windows over the bounded daily frame, then a
    6-bucket histogram — only the daily rollup sees data."""
    daily = _daily_df(spark, sf_dir)
    idx = daily.select("y", F.row_number().over(Window.orderBy("t")).alias("rn"))
    w = Window.orderBy("rn")
    tri = idx.select(
        F.col("y").alias("a"),
        F.lead("y", 1).over(w).alias("b"),
        F.lead("y", 2).over(w).alias("c"),
    )
    pat = tri.where(F.col("c").isNotNull()).select(
        (
            4 * F.when(F.col("a") > F.col("b"), 1).otherwise(0)
            + 2 * F.when(F.col("b") > F.col("c"), 1).otherwise(0)
            + F.when(F.col("a") > F.col("c"), 1).otherwise(0)
        ).alias("p")
    )
    hist = pat.groupBy("p").agg(F.count(F.lit(1)).alias("n"))
    tot = hist.agg(
        F.sum("n").cast("double").alias("nt"), F.count(F.lit(1)).alias("np")
    )
    ent = hist.crossJoin(F.broadcast(tot)).agg(
        (-F.sum((F.col("n") / F.col("nt")) * F.log(F.col("n") / F.col("nt"))))
        .alias("h"),
        F.max("np").alias("np"),
        F.max("nt").alias("nt"),
    )
    import math as _math

    return ent.select(
        F.col("nt").cast("long").alias("n_windows"),
        F.col("np").cast("long").alias("n_patterns"),
        F.round(F.col("h") + 1e-9, 6).alias("perm_entropy"),
        F.round(F.col("h") / _math.log(6.0) + 1e-9, 6).alias("normalized"),
    )


def _haar_oracle() -> str:
    """Three unrolled Haar analysis levels: at each level pair up the
    current approximation coefficients (complete pairs only), detail
    d = (even − odd)/2 carries the level's energy, approximation
    a = (even + odd)/2 feeds the next level."""
    ctes = [
        _DAILY_SQL,
        """l0 AS (
      SELECT row_number() OVER (ORDER BY t) - 1 AS i, y AS v FROM daily)""",
    ]
    for lv in (1, 2, 3):
        prev = f"l{lv - 1}"
        ctes.append(
            f"""p{lv} AS (
      SELECT CAST(floor(i / 2) AS BIGINT) AS g,
             sum(CASE WHEN i % 2 = 0 THEN v END) AS ev,
             sum(CASE WHEN i % 2 = 1 THEN v END) AS od,
             count(*) AS cnt
      FROM {prev} GROUP BY g)""",
        )
        ctes.append(
            f"""d{lv} AS (
      SELECT g, (ev - od) / 2.0 AS d FROM p{lv} WHERE cnt = 2)""",
        )
        ctes.append(
            f"""l{lv} AS (
      SELECT g AS i, (ev + od) / 2.0 AS v FROM p{lv} WHERE cnt = 2)""",
        )
    ctes.append(
        """en AS (
      SELECT 1 AS level, count(*) AS n_coeffs, sum(d * d) AS energy FROM d1
      UNION ALL
      SELECT 2, count(*), sum(d * d) FROM d2
      UNION ALL
      SELECT 3, count(*), sum(d * d) FROM d3)""",
    )
    ctes.append("""tot AS (SELECT sum(energy) AS te FROM en)""")
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + """
    SELECT CAST(en.level AS BIGINT) AS level,
           CAST(en.n_coeffs AS BIGINT) AS n_coeffs,
           round(en.energy + 1e-9, 2) AS energy,
           round(en.energy / tot.te + 1e-9, 6) AS energy_share
    FROM en CROSS JOIN tot ORDER BY level
    """
    )


@staged("haar_energy_daily_revenue", oracle=_haar_oracle())
def haar_energy_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haar wavelet detail-energy ladder of daily revenue, levels 1-3:
    each level pairs consecutive approximation coefficients into a
    detail (difference/2, whose squared sum is the level's energy) and
    an approximation (average) that feeds the next level — a
    multi-resolution 'where does the variance live' decomposition
    (level 1 = 2-day churn, level 3 = 8-day swings) that complements
    the registered DFT ops with a time-localized basis.

    Scale shape: three unrolled rounds of a groupBy on floor(i/2) over
    the bounded daily frame — each round halves the frame; only the
    daily rollup sees data."""
    daily = _daily_df(spark, sf_dir)
    cur = daily.select(
        (F.row_number().over(Window.orderBy("t")) - 1).alias("i"),
        F.col("y").alias("v"),
    )
    energies = []
    for lv in (1, 2, 3):
        p = cur.groupBy(F.floor(F.col("i") / 2).alias("g")).agg(
            F.sum(F.when(F.col("i") % 2 == 0, F.col("v"))).alias("ev"),
            F.sum(F.when(F.col("i") % 2 == 1, F.col("v"))).alias("od"),
            F.count(F.lit(1)).alias("cnt"),
        ).where(F.col("cnt") == 2)
        d = p.select(((F.col("ev") - F.col("od")) / 2.0).alias("d"))
        energies.append(
            d.agg(
                F.lit(lv).cast("long").alias("level"),
                F.count(F.lit(1)).alias("n_coeffs"),
                F.sum(F.col("d") * F.col("d")).alias("energy"),
            )
        )
        cur = p.select(
            F.col("g").alias("i"), ((F.col("ev") + F.col("od")) / 2.0).alias("v")
        )
    en = energies[0].unionByName(energies[1]).unionByName(energies[2])
    tot = en.agg(F.sum("energy").alias("te"))
    return (
        en.crossJoin(F.broadcast(tot))
        .select(
            F.col("level"),
            F.col("n_coeffs").cast("long").alias("n_coeffs"),
            F.round(F.col("energy") + 1e-9, 2).alias("energy"),
            F.round(F.col("energy") / F.col("te") + 1e-9, 6).alias(
                "energy_share"
            ),
        )
        .orderBy("level")
    )


@staged(
    "theil_u_forecast_daily_revenue",
    oracle=f"""
    WITH {_DAILY_SQL},
    idx AS (
      SELECT y, row_number() OVER (ORDER BY t) AS rn FROM daily),
    fc AS (
      SELECT y,
             lag(y, 1) OVER (ORDER BY rn) AS naive,
             lag(y, 7) OVER (ORDER BY rn) AS snaive
      FROM idx),
    sc AS (
      SELECT count(*) AS n,
             sqrt(avg((y - naive) * (y - naive))) AS rmse_naive,
             sqrt(avg((y - snaive) * (y - snaive))) AS rmse_snaive
      FROM fc WHERE snaive IS NOT NULL)
    SELECT CAST(n AS BIGINT) AS n_scored,
           round(rmse_naive + 1e-9, 2) AS rmse_naive,
           round(rmse_snaive + 1e-9, 2) AS rmse_snaive,
           round(rmse_snaive / rmse_naive + 1e-9, 6) AS theil_u
    FROM sc
    """,
)
def theil_u_forecast_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's U forecast-skill ratio on daily revenue: RMSE of the
    seasonal-naive forecast (y_{t-7}, 'same weekday last week') over
    RMSE of the plain naive forecast (y_{t-1}), scored on the days
    where both are defined. U < 1 means weekly seasonality carries
    real predictive signal beyond persistence — the model-free skill
    gate to run before shipping any fancier forecaster.

    Scale shape: two lag windows over the bounded daily frame and one
    aggregate; only the daily rollup sees data."""
    daily = _daily_df(spark, sf_dir)
    idx = daily.select("y", F.row_number().over(Window.orderBy("t")).alias("rn"))
    w = Window.orderBy("rn")
    fc = idx.select(
        "y",
        F.lag("y", 1).over(w).alias("naive"),
        F.lag("y", 7).over(w).alias("snaive"),
    )
    sc = fc.where(F.col("snaive").isNotNull()).agg(
        F.count(F.lit(1)).alias("n"),
        F.sqrt(
            F.avg((F.col("y") - F.col("naive")) * (F.col("y") - F.col("naive")))
        ).alias("rmse_naive"),
        F.sqrt(
            F.avg(
                (F.col("y") - F.col("snaive")) * (F.col("y") - F.col("snaive"))
            )
        ).alias("rmse_snaive"),
    )
    return sc.select(
        F.col("n").cast("long").alias("n_scored"),
        F.round(F.col("rmse_naive") + 1e-9, 2).alias("rmse_naive"),
        F.round(F.col("rmse_snaive") + 1e-9, 2).alias("rmse_snaive"),
        F.round(F.col("rmse_snaive") / F.col("rmse_naive") + 1e-9, 6).alias(
            "theil_u"
        ),
    )


# ---------------------------------------------------------------------------
# Heteroscedasticity-robust group comparisons
# ---------------------------------------------------------------------------

_GRP_SQL = """grp AS (
      SELECT o_orderpriority AS g, count(*) AS n,
             avg(o_totalprice) AS m, var_samp(o_totalprice) AS s2
      FROM orders GROUP BY g)"""


def _grp_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority (n, mean, sample variance) of order value — the
    sufficient statistics every test in this family needs; ONE
    data-sized aggregate, everything downstream is a ≤5-row frame."""
    return Tables(spark, sf_dir).orders.groupBy(
        F.col("o_orderpriority").alias("g")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("o_totalprice").alias("m"),
        F.var_samp("o_totalprice").alias("s2"),
    )


@staged(
    "welch_anova_value_by_priority",
    oracle=f"""
    WITH {_GRP_SQL},
    w AS (
      SELECT g, n, m, s2, n / s2 AS wi FROM grp),
    tot AS (
      SELECT count(*) AS k, sum(wi) AS sw,
             sum(wi * m) / sum(wi) AS mw
      FROM w),
    parts AS (
      SELECT sum(w.wi * (w.m - tot.mw) * (w.m - tot.mw)) / (max(tot.k) - 1)
               AS num,
             sum((1 - w.wi / tot.sw) * (1 - w.wi / tot.sw) / (w.n - 1))
               AS lam,
             max(tot.k) AS k
      FROM w CROSS JOIN tot)
    SELECT CAST(k AS BIGINT) AS n_groups,
           round(num / (1 + 2.0 * (k - 2) / (k * k - 1.0) * lam) + 1e-9, 6)
             AS welch_f,
           round((k * k - 1.0) / (3.0 * lam) + 1e-9, 4) AS df2
    FROM parts
    """,
)
def welch_anova_value_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's heteroscedastic one-way ANOVA of order value across the
    five priorities: precision weights w_i = n_i/s_i², weighted grand
    mean, F* with the Welch correction term and its Satterthwaite
    denominator df. The unequal-variance companion to the registered
    ``anova_f_value_by_event_type`` (classic F assumes equal group
    variances; priority value variances are not equal).

    Scale shape: one data-sized sufficient-statistics aggregate, then
    scalar algebra on the 5-row group frame."""
    grp = _grp_df(spark, sf_dir)
    w = grp.select("g", "n", "m", "s2", (F.col("n") / F.col("s2")).alias("wi"))
    tot = w.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("wi").alias("sw"),
        (F.sum(F.col("wi") * F.col("m")) / F.sum("wi")).alias("mw"),
    )
    parts = w.crossJoin(F.broadcast(tot)).agg(
        (
            F.sum(
                F.col("wi")
                * (F.col("m") - F.col("mw"))
                * (F.col("m") - F.col("mw"))
            )
            / (F.max("k") - 1)
        ).alias("num"),
        F.sum(
            (1 - F.col("wi") / F.col("sw"))
            * (1 - F.col("wi") / F.col("sw"))
            / (F.col("n") - 1)
        ).alias("lam"),
        F.max("k").alias("k"),
    )
    k = F.col("k")
    return parts.select(
        k.cast("long").alias("n_groups"),
        F.round(
            F.col("num")
            / (1 + 2.0 * (k - 2) / (k * k - F.lit(1.0)) * F.col("lam"))
            + 1e-9,
            6,
        ).alias("welch_f"),
        F.round((k * k - F.lit(1.0)) / (3.0 * F.col("lam")) + 1e-9, 4).alias(
            "df2"
        ),
    )


@staged(
    "bartlett_value_by_priority",
    oracle=f"""
    WITH {_GRP_SQL},
    tot AS (
      SELECT count(*) AS k, sum(n) AS nn,
             sum((n - 1) * s2) / sum(n - 1) AS sp2,
             sum((n - 1) * ln(s2)) AS slns,
             sum(1.0 / (n - 1)) AS sinv
      FROM grp)
    SELECT CAST(k AS BIGINT) AS n_groups,
           CAST(nn AS BIGINT) AS n_total,
           round(sp2 + 1e-9, 2) AS pooled_var,
           round(((nn - k) * ln(sp2) - slns)
                 / (1 + (sinv - 1.0 / (nn - k)) / (3.0 * (k - 1)))
                 + 1e-9, 6) AS bartlett_stat
    FROM tot
    """,
)
def bartlett_value_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test of equal order-value variances across the five
    priorities: T = [(N−k)·ln s_p² − Σ(n_i−1)·ln s_i²] over the
    Bartlett correction, chi-square(k−1) under homogeneity — the
    formal gate in front of classic pooled-variance ANOVA (the
    registered Levene op is its robust cousin; Bartlett is the
    powerful-under-normality one).

    Scale shape: the same one-pass sufficient statistics as the Welch
    op, then a single 5-row aggregate."""
    grp = _grp_df(spark, sf_dir)
    tot = grp.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("nn"),
        (
            F.sum((F.col("n") - 1) * F.col("s2")) / F.sum(F.col("n") - 1)
        ).alias("sp2"),
        F.sum((F.col("n") - 1) * F.log("s2")).alias("slns"),
        F.sum(1.0 / (F.col("n") - 1)).alias("sinv"),
    )
    return tot.select(
        F.col("k").cast("long").alias("n_groups"),
        F.col("nn").cast("long").alias("n_total"),
        F.round(F.col("sp2") + 1e-9, 2).alias("pooled_var"),
        F.round(
            (
                (F.col("nn") - F.col("k")) * F.log("sp2") - F.col("slns")
            )
            / (
                1
                + (F.col("sinv") - 1.0 / (F.col("nn") - F.col("k")))
                / (3.0 * (F.col("k") - 1))
            )
            + 1e-9,
            6,
        ).alias("bartlett_stat"),
    )


@staged(
    "tukey_q_pairwise_priority",
    oracle=f"""
    WITH {_GRP_SQL},
    mse AS (
      SELECT sum((n - 1) * s2) / sum(n - 1) AS sp2 FROM grp)
    SELECT a.g AS g_lo, b.g AS g_hi,
           round(b.m - a.m + 1e-9, 4) AS mean_diff,
           round(abs(b.m - a.m)
                 / sqrt(mse.sp2 / 2.0 * (1.0 / a.n + 1.0 / b.n))
                 + 1e-9, 6) AS q_stat
    FROM grp a JOIN grp b ON a.g < b.g CROSS JOIN mse
    ORDER BY g_lo, g_hi
    """,
)
def tukey_q_pairwise_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey HSD studentized-range q statistics for all 10 priority
    pairs: |x̄_i − x̄_j| / sqrt(MSE/2·(1/n_i + 1/n_j)) with the pooled
    within-group variance as MSE — the post-hoc that says WHICH
    priorities differ after an ANOVA says something does. Statistics
    only (critical q values are table lookups, not data).

    Scale shape: the pairwise join is a self-join of the 5-row group
    frame — 10 rows; only the sufficient-statistics pass sees data."""
    grp = _grp_df(spark, sf_dir)
    mse = grp.agg(
        (F.sum((F.col("n") - 1) * F.col("s2")) / F.sum(F.col("n") - 1)).alias(
            "sp2"
        )
    )
    a = grp.select(
        F.col("g").alias("g_lo"), F.col("n").alias("na"), F.col("m").alias("ma")
    )
    b = grp.select(
        F.col("g").alias("g_hi"), F.col("n").alias("nb"), F.col("m").alias("mb")
    )
    return (
        a.join(b, F.col("g_lo") < F.col("g_hi"))
        .crossJoin(F.broadcast(mse))
        .select(
            "g_lo",
            "g_hi",
            F.round(F.col("mb") - F.col("ma") + 1e-9, 4).alias("mean_diff"),
            F.round(
                F.abs(F.col("mb") - F.col("ma"))
                / F.sqrt(
                    F.col("sp2") / 2.0 * (1.0 / F.col("na") + 1.0 / F.col("nb"))
                )
                + 1e-9,
                6,
            ).alias("q_stat"),
        )
        .orderBy("g_lo", "g_hi")
    )


@staged(
    "cf_distance_click_purchase",
    oracle="""
    WITH s AS (
      SELECT value AS x, CASE WHEN event_type = 'click' THEN 0 ELSE 1 END
               AS grp
      FROM events WHERE event_type IN ('click', 'purchase')),
    sc AS (
      SELECT quantile_disc(x, 0.75) - quantile_disc(x, 0.25) AS iqr
      FROM s),
    cf AS (
      SELECT s.grp, count(*) AS n,
             avg(cos(0.4 * s.x / (sc.iqr / 2.0))) AS c1,
             avg(sin(0.4 * s.x / (sc.iqr / 2.0))) AS s1,
             avg(cos(0.8 * s.x / (sc.iqr / 2.0))) AS c2,
             avg(sin(0.8 * s.x / (sc.iqr / 2.0))) AS s2
      FROM s CROSS JOIN sc GROUP BY s.grp),
    d AS (
      SELECT a.n AS n0, b.n AS n1,
             (a.c1 - b.c1) * (a.c1 - b.c1) + (a.s1 - b.s1) * (a.s1 - b.s1)
             + (a.c2 - b.c2) * (a.c2 - b.c2)
             + (a.s2 - b.s2) * (a.s2 - b.s2) AS dsq
      FROM cf a JOIN cf b ON a.grp = 0 AND b.grp = 1)
    SELECT CAST(n0 AS BIGINT) AS n_click,
           CAST(n1 AS BIGINT) AS n_purchase,
           round(dsq + 1e-9, 8) AS cf_dist_sq,
           round(dsq * (n0 * 1.0 * n1) / (n0 + n1) + 1e-9, 6) AS cf_stat
    FROM d
    """,
)
def cf_distance_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epps-Singleton-style characteristic-function distance between
    click and purchase value distributions: each sample's empirical CF
    is evaluated at two frequencies (0.4 and 0.8 over a robust pooled
    scale, the semi-IQR — exact discrete quantiles so both engines
    agree), and the statistic is the squared CF difference scaled by
    the harmonic sample size. Unlike KS/CvM (registered), the CF
    distance sees distributions with identical CDFs on a grid but
    different fine structure, and needs NO ranks — it is pure
    streaming aggregation, the cheapest two-sample test at 100 TB.

    Scale shape: one exact-quantile pass and one grouped trig-moment
    pass — no windows, no ranks, no sort; everything partial-agg."""
    e = Tables(spark, sf_dir).events.where(
        F.col("event_type").isin("click", "purchase")
    ).select(
        F.col("value").alias("x"),
        F.when(F.col("event_type") == "click", 0).otherwise(1).alias("grp"),
    )
    sc = e.agg(
        (
            F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY x)")
            - F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY x)")
        ).alias("iqr")
    )
    half = F.col("iqr") / 2.0
    cf = (
        e.crossJoin(F.broadcast(sc))
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(F.cos(0.4 * F.col("x") / half)).alias("c1"),
            F.avg(F.sin(0.4 * F.col("x") / half)).alias("s1"),
            F.avg(F.cos(0.8 * F.col("x") / half)).alias("c2"),
            F.avg(F.sin(0.8 * F.col("x") / half)).alias("s2"),
        )
    )
    a = cf.where(F.col("grp") == 0).select(
        F.col("n").alias("n0"),
        F.col("c1").alias("ac1"),
        F.col("s1").alias("as1"),
        F.col("c2").alias("ac2"),
        F.col("s2").alias("as2"),
    )
    b = cf.where(F.col("grp") == 1).select(
        F.col("n").alias("n1"),
        F.col("c1").alias("bc1"),
        F.col("s1").alias("bs1"),
        F.col("c2").alias("bc2"),
        F.col("s2").alias("bs2"),
    )
    dsq = (
        (F.col("ac1") - F.col("bc1")) * (F.col("ac1") - F.col("bc1"))
        + (F.col("as1") - F.col("bs1")) * (F.col("as1") - F.col("bs1"))
        + (F.col("ac2") - F.col("bc2")) * (F.col("ac2") - F.col("bc2"))
        + (F.col("as2") - F.col("bs2")) * (F.col("as2") - F.col("bs2"))
    )
    return a.crossJoin(F.broadcast(b)).select(
        F.col("n0").cast("long").alias("n_click"),
        F.col("n1").cast("long").alias("n_purchase"),
        F.round(dsq + 1e-9, 8).alias("cf_dist_sq"),
        F.round(
            dsq * (F.col("n0") * 1.0 * F.col("n1")) / (F.col("n0") + F.col("n1"))
            + 1e-9,
            6,
        ).alias("cf_stat"),
    )


# ---------------------------------------------------------------------------
# Privacy closures: t-closeness, DP exponential mechanism
# ---------------------------------------------------------------------------

# Engine-portable two-step Lehmer stream shared with staged_r12's DP
# Laplace op (same constants, same rationale — see its docstring).
from ror_etl_spark.queries.staged_r12 import _lehmer_u, _lehmer_u_sql  # noqa: E402


@staged(
    "t_closeness_order_priority",
    oracle="""
    WITH cell AS (
      SELECT c.c_nationkey AS nat, c.c_mktsegment AS seg,
             o.o_orderpriority AS pri, count(*) AS n
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY nat, seg, pri),
    grp AS (SELECT nat, seg, sum(n) AS gn FROM cell GROUP BY nat, seg),
    pris AS (SELECT DISTINCT pri FROM cell),
    gdist AS (
      SELECT pri, sum(n) * 1.0 / (SELECT sum(n) FROM cell) AS q
      FROM cell GROUP BY pri),
    grid AS (
      SELECT g.nat, g.seg, p.pri, g.gn,
             coalesce(c.n, 0) * 1.0 / g.gn AS p, gl.q
      FROM grp g CROSS JOIN pris p
      JOIN gdist gl ON gl.pri = p.pri
      LEFT JOIN cell c ON c.nat = g.nat AND c.seg = g.seg
        AND c.pri = p.pri),
    cum AS (
      SELECT nat, seg, gn, pri,
             sum(p - q) OVER (PARTITION BY nat, seg ORDER BY pri
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r
      FROM grid),
    emd AS (
      SELECT nat, seg, max(gn) AS gn,
             sum(abs(r)) / (count(*) - 1.0) AS d
      FROM cum GROUP BY nat, seg),
    ths AS (SELECT unnest([0.05, 0.1, 0.2, 0.3]) AS t)
    SELECT ths.t AS t,
           CAST(count(CASE WHEN emd.d > ths.t THEN 1 END) AS BIGINT)
             AS n_violating,
           CAST(sum(CASE WHEN emd.d > ths.t THEN emd.gn ELSE 0 END)
                AS BIGINT) AS rows_violating,
           round(max(emd.d) + 1e-9, 6) AS max_emd
    FROM ths CROSS JOIN emd
    GROUP BY ths.t ORDER BY t
    """,
)
def t_closeness_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit of the (nation, segment) quasi-identifier
    groups against the ORDERED sensitive attribute order priority:
    each group's Earth-Mover distance to the global priority
    distribution (for an ordered domain, EMD = mean |cumulative
    difference|), reported as a threshold ladder — how many QI groups
    (and how many underlying rows) exceed t for t in {.05,.1,.2,.3}.
    Completes the registered privacy family: k-anonymity bounds
    re-identification, l-diversity bounds attribute disclosure by
    COUNT, t-closeness bounds it by DISTRIBUTION distance.

    Scale shape: one fact-join aggregate to the QI×priority cell
    table, a dense-grid left join (|QI| × 5 rows), a per-group cumsum
    window over the 5-value ordered domain, and a 4-row ladder."""
    t = Tables(spark, sf_dir)
    cell = (
        t.orders.join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("c_nationkey").alias("nat"),
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("pri"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    grp = cell.groupBy("nat", "seg").agg(F.sum("n").alias("gn"))
    pris = cell.select("pri").distinct()
    tot = cell.agg(F.sum("n").alias("nt"))
    glob = (
        cell.groupBy("pri")
        .agg(F.sum("n").alias("gnp"))
        .crossJoin(F.broadcast(tot))
        .select("pri", (F.col("gnp") * 1.0 / F.col("nt")).alias("q"))
    )
    grid = (
        grp.crossJoin(F.broadcast(pris))
        .join(F.broadcast(glob), "pri")
        .join(cell, ["nat", "seg", "pri"], "left")
        .select(
            "nat",
            "seg",
            "pri",
            "gn",
            (F.coalesce(F.col("n"), F.lit(0)) * 1.0 / F.col("gn")).alias("p"),
            "q",
        )
    )
    wc = Window.partitionBy("nat", "seg").orderBy("pri").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = grid.select(
        "nat", "seg", "gn", F.sum(F.col("p") - F.col("q")).over(wc).alias("r")
    )
    emd = cum.groupBy("nat", "seg").agg(
        F.max("gn").alias("gn"),
        (F.sum(F.abs(F.col("r"))) / (F.count(F.lit(1)) - 1.0)).alias("d"),
    )
    ths = spark.createDataFrame(
        [(0.05,), (0.1,), (0.2,), (0.3,)], "t double"
    )
    return (
        F.broadcast(ths)
        .crossJoin(emd)
        .groupBy("t")
        .agg(
            F.count(F.when(F.col("d") > F.col("t"), 1)).alias("n_violating"),
            F.sum(
                F.when(F.col("d") > F.col("t"), F.col("gn")).otherwise(0)
            ).alias("rows_violating"),
            F.round(F.max("d") + 1e-9, 6).alias("max_emd"),
        )
        .orderBy("t")
    )


@staged(
    "dp_exponential_topk_nations",
    oracle=f"""
    WITH u AS (
      SELECT c.c_nationkey AS nat, sum(o.o_totalprice) AS rev
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY nat),
    mx AS (SELECT max(rev) AS mr FROM u),
    sc AS (
      SELECT u.nat, u.rev, u.rev / mx.mr AS util,
             row_number() OVER (ORDER BY u.rev DESC, u.nat) AS true_rank,
             -ln(-ln({_lehmer_u_sql("CAST(u.nat AS BIGINT) * 13 + 5")}))
               AS gumbel
      FROM u CROSS JOIN mx),
    noisy AS (
      SELECT nat, rev, true_rank,
             4.0 * util / 2.0 + gumbel AS noisy_score,
             row_number() OVER (
               ORDER BY 4.0 * util / 2.0 + gumbel DESC, nat) AS noisy_rank
      FROM sc)
    SELECT CAST(nat AS BIGINT) AS nationkey,
           CAST(true_rank AS BIGINT) AS true_rank,
           CAST(noisy_rank AS BIGINT) AS noisy_rank,
           round(noisy_score + 1e-9, 6) AS noisy_score
    FROM noisy WHERE noisy_rank <= 5 ORDER BY noisy_rank
    """,
)
def dp_exponential_topk_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private top-5 nations by revenue via the
    exponential mechanism in its Gumbel-max form: utility = revenue
    normalized to [0,1] (sensitivity 1), score = ε·u/2 + Gumbel noise
    with ε = 4, winner-take-the-ranks by noisy score. The Gumbel draws
    come from the SAME two-step Lehmer stream as the registered DP
    Laplace op, keyed by nation — engine-portable, exactly
    reproducible, and −ln(−ln U) is the textbook Gumbel inverse-CDF.
    Reporting both ranks exposes how much privacy noise perturbs the
    leaderboard at this ε.

    Scale shape: one fact-join aggregate to the 25-row nation frame;
    ranks are windows over that bounded frame."""
    t = Tables(spark, sf_dir)
    u = (
        t.orders.join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.col("c_nationkey").alias("nat"))
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    mx = u.agg(F.max("rev").alias("mr"))
    sc = u.crossJoin(F.broadcast(mx)).select(
        "nat",
        "rev",
        (F.col("rev") / F.col("mr")).alias("util"),
        F.row_number()
        .over(Window.orderBy(F.desc("rev"), F.asc("nat")))
        .alias("true_rank"),
        (-F.log(-F.log(_lehmer_u(F.col("nat").cast("long") * 13 + 5)))).alias("gumbel"),
    )
    noisy = sc.select(
        "nat",
        "true_rank",
        (4.0 * F.col("util") / 2.0 + F.col("gumbel")).alias("noisy_score"),
        F.row_number()
        .over(
            Window.orderBy(
                F.desc(4.0 * F.col("util") / 2.0 + F.col("gumbel")), F.asc("nat")
            )
        )
        .alias("noisy_rank"),
    )
    return (
        noisy.where(F.col("noisy_rank") <= 5)
        .select(
            F.col("nat").cast("long").alias("nationkey"),
            F.col("true_rank").cast("long").alias("true_rank"),
            F.col("noisy_rank").cast("long").alias("noisy_rank"),
            F.round(F.col("noisy_score") + 1e-9, 6).alias("noisy_score"),
        )
        .orderBy("noisy_rank")
    )


# ---------------------------------------------------------------------------
# Embedding spectral diagnostics: top PC via power iteration, k-means elbow
# ---------------------------------------------------------------------------

_PCA_ITERS = 3
_PCA_ROUND = 8
_PCA_DIM = 64


def _pca_oracle() -> str:
    """Unrolled power iteration on the centered covariance action:
    v <- Xc'(Xc v), max-abs-normalized and quantized to 8 dp each round
    (the HITS trajectory trick), so the DuckDB replay lands on the
    bit-identical direction."""
    ctes = [
        """ex AS (
      SELECT vec_id, idx.i AS i,
             CAST(embedding AS DOUBLE[])[idx.i] AS val
      FROM embeddings, (SELECT unnest(range(1, 65)) AS i) idx)""",
        """mu AS (SELECT i, avg(val) AS m FROM ex GROUP BY i)""",
        """xc AS (
      SELECT ex.vec_id, ex.i, ex.val - mu.m AS x
      FROM ex JOIN mu ON mu.i = ex.i)""",
        """v0 AS (SELECT unnest(range(1, 65)) AS i, 0.125 AS v)""",
    ]
    for k in range(_PCA_ITERS):
        ctes.append(
            f"""s{k} AS (
      SELECT xc.vec_id, sum(xc.x * v{k}.v) AS s
      FROM xc JOIN v{k} ON v{k}.i = xc.i GROUP BY xc.vec_id)"""
        )
        ctes.append(
            f"""w{k} AS (
      SELECT xc.i, sum(xc.x * s{k}.s) AS w
      FROM xc JOIN s{k} ON s{k}.vec_id = xc.vec_id GROUP BY xc.i)"""
        )
        ctes.append(
            f"""v{k + 1} AS (
      SELECT i, round(w / max(abs(w)) OVER () + 1e-12, {_PCA_ROUND}) AS v
      FROM w{k})"""
        )
    final = f"v{_PCA_ITERS}"
    ctes.append(
        f"""sf AS (
      SELECT xc.vec_id, sum(xc.x * f.v) AS s
      FROM xc JOIN {final} f ON f.i = xc.i GROUP BY xc.vec_id)"""
    )
    ctes.append(
        f"""lam AS (
      SELECT (SELECT sum(s * s) / count(*) FROM sf)
             / (SELECT sum(v * v) FROM {final}) AS l)"""
    )
    ctes.append(
        """tv AS (SELECT sum(x * x) / (SELECT count(DISTINCT vec_id) FROM xc)
                    AS t FROM xc)"""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CAST(rnk AS BIGINT) AS rank, CAST(i AS BIGINT) AS dim,
           round(v + 1e-9, 6) AS loading,
           round(lam.l + 1e-9, 4) AS top_eigenvalue,
           round(lam.l / tv.t + 1e-9, 6) AS explained_var_ratio
    FROM (
      SELECT i, v, row_number() OVER (ORDER BY abs(v) DESC, i) AS rnk
      FROM {final}) CROSS JOIN lam CROSS JOIN tv
    WHERE rnk <= 8 ORDER BY rank
    """
    )


@staged("embedding_pca_power_iteration", oracle=_pca_oracle())
def embedding_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by THREE
    distributed power iterations on the centered covariance action
    v <- Xc'(Xc v): each half-step is one narrow join-aggregate over
    the posexploded (vec_id, dim, value) grid, the direction is
    max-abs-normalized and quantized to 8 dp per round (the registered
    HITS/PageRank trajectory trick), and the report is the top-8
    loadings plus the Rayleigh eigenvalue and its explained-variance
    ratio. The 'is one direction eating my embedding space'
    diagnostic that pairs with ``embedding_isotropy_stats`` (which
    measures the mean direction; this finds the dominant VARIANCE
    direction, mean removed).

    Scale shape: state is the 64-row direction vector; per iteration
    one vec-keyed and one dim-keyed aggregate — O(n·dim) narrow rows
    shuffled as partial sums, never a gram matrix."""
    emb = Tables(spark, sf_dir).embeddings
    ex = emb.select(
        "vec_id", F.posexplode("embedding").alias("i0", "valf")
    ).select(
        "vec_id",
        (F.col("i0") + 1).alias("i"),
        F.col("valf").cast("double").alias("val"),
    )
    mu = ex.groupBy("i").agg(F.avg("val").alias("m"))
    xc = ex.join(F.broadcast(mu), "i").select(
        "vec_id", "i", (F.col("val") - F.col("m")).alias("x")
    ).localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
    v = spark.range(1, _PCA_DIM + 1).select(
        F.col("id").alias("i"), F.lit(0.125).alias("v")
    )
    wall = Window.partitionBy()
    for _ in range(_PCA_ITERS):
        s = (
            xc.join(F.broadcast(v), "i")
            .groupBy("vec_id")
            .agg(F.sum(F.col("x") * F.col("v")).alias("s"))
        )
        w = (
            xc.join(F.broadcast(s), "vec_id")
            .groupBy("i")
            .agg(F.sum(F.col("x") * F.col("s")).alias("w"))
        )
        v = w.select(
            "i",
            F.round(
                F.col("w") / F.max(F.abs(F.col("w"))).over(wall) + 1e-12,
                _PCA_ROUND,
            ).alias("v"),
        ).localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
    sf = (
        xc.join(F.broadcast(v), "i")
        .groupBy("vec_id")
        .agg(F.sum(F.col("x") * F.col("v")).alias("s"))
    )
    n = xc.select("vec_id").distinct().count()
    lam = sf.agg((F.sum(F.col("s") * F.col("s")) / F.lit(n)).alias("num"))
    vsq = v.agg(F.sum(F.col("v") * F.col("v")).alias("vv"))
    tv = xc.agg((F.sum(F.col("x") * F.col("x")) / F.lit(n)).alias("t"))
    ranked = v.select(
        "i",
        "v",
        F.row_number()
        .over(Window.orderBy(F.desc(F.abs(F.col("v"))), F.asc("i")))
        .alias("rnk"),
    ).where(F.col("rnk") <= 8)
    return (
        ranked.crossJoin(F.broadcast(lam))
        .crossJoin(F.broadcast(vsq))
        .crossJoin(F.broadcast(tv))
        .select(
            F.col("rnk").cast("long").alias("rank"),
            F.col("i").cast("long").alias("dim"),
            F.round(F.col("v") + 1e-9, 6).alias("loading"),
            F.round(F.col("num") / F.col("vv") + 1e-9, 4).alias(
                "top_eigenvalue"
            ),
            F.round(
                F.col("num") / F.col("vv") / F.col("t") + 1e-9, 6
            ).alias("explained_var_ratio"),
        )
        .orderBy("rank")
    )


def _elbow_oracle() -> str:
    """Three independent k-means chains (k = 2, 4, 8; the registered
    IVF ops own k = 16) — prefix-namespaced ``_kmeans_ctes`` chains in
    one WITH, each closed by a min-distance inertia aggregate."""
    from ror_etl_spark.queries.vector import _kmeans_ctes

    src = "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings"
    ctes: list[str] = []
    selects = []
    for k in (2, 4, 8):
        ctes.extend(_kmeans_ctes(src, k, 3, 64, 6, prefix=f"k{k}_"))
        ctes.append(
            f"""in{k} AS (
      SELECT {k} AS k, count(*) AS n_vectors,
             sum(md) AS inertia
      FROM (
        SELECT e.vec_id,
               min(list_distance(e.v, c.c) * list_distance(e.v, c.c)) AS md
        FROM k{k}_e e, k{k}_c3 c GROUP BY e.vec_id))"""
        )
        selects.append(f"SELECT * FROM in{k}")
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + """
    SELECT CAST(k AS BIGINT) AS k, CAST(n_vectors AS BIGINT) AS n_vectors,
           round(inertia + 1e-9, 4) AS inertia
    FROM ("""
        + " UNION ALL ".join(selects)
        + """) ORDER BY k
    """
    )


@staged("embedding_kmeans_elbow", oracle=_elbow_oracle())
def embedding_kmeans_elbow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means elbow ladder over the embedding corpus: total inertia
    (sum of squared Euclidean distance to the nearest trained centroid)
    for k in {2, 4, 8}, each trained with the registered deterministic
    Lloyd recipe (id-ordered init, 3 iterations, means quantized to
    6 dp) so the DuckDB oracle replays all three trainings
    bit-identically. Read with ``embedding_knn_ivf_trained`` (k = 16):
    where inertia stops falling is the right IVF cell count.

    Scale shape: training shuffles ~k×dim partial sums per iteration
    (see ``kmeans_centroids``); the inertia pass is a broadcast argmin
    over k centroid literals inside codegen — one scan per k."""
    from ror_etl_spark.operators.similarity import kmeans_centroids
    from ror_etl_spark.functions.vectors import as_double

    emb = Tables(spark, sf_dir).embeddings
    vecs = emb.select(as_double(F.col("embedding")).alias("v"))
    outs = []
    for k in (2, 4, 8):
        cents = kmeans_centroids(emb, n_centroids=k, n_iters=3, round_means=6)
        dists = [
            F.aggregate(
                F.zip_with(
                    F.col("v"),
                    F.array(*[F.lit(float(x)) for x in c]),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            for c in cents
        ]
        md = F.least(*dists) if len(dists) > 1 else dists[0]
        outs.append(
            vecs.agg(
                F.lit(k).cast("long").alias("k"),
                F.count(F.lit(1)).alias("n_vectors"),
                F.sum(md).alias("inertia"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.select(
        "k",
        F.col("n_vectors").cast("long").alias("n_vectors"),
        F.round(F.col("inertia") + 1e-9, 4).alias("inertia"),
    ).orderBy("k")


# ---------------------------------------------------------------------------
# Sparse-graph kernels: personalized PageRank, k-truss
# ---------------------------------------------------------------------------

# Shared sparsified trade graph (top-90 nation pairs by volume) — the
# r12 re-base of the staged_r11 family; reusing its builders keeps the
# graph definition identical across rounds.
from ror_etl_spark.queries.staged_r11 import (  # noqa: E402
    _TRADE_EDGE_CTES,
    _trade_edges,
)

_PPR_ITERS = 5
_PPR_ALPHA = 0.15
_PPR_ROUND = 8


def _ppr_oracle() -> str:
    """Unrolled personalized PageRank replay on the sparsified trade
    graph: source = max-degree node (smallest-id tiebreak), 5 rounds of
    r <- alpha·e_src + (1-alpha)·A'D^{-1} r, each quantized to 8 dp."""
    ctes = [
        _TRADE_EDGE_CTES.strip(),
        """src AS (SELECT n AS s FROM deg ORDER BY d DESC, n LIMIT 1)""",
        """r0 AS (
      SELECT deg.n AS id,
             CASE WHEN deg.n = src.s THEN 1.0 ELSE 0.0 END AS r
      FROM deg CROSS JOIN src)""",
    ]
    for k in range(_PPR_ITERS):
        ctes.append(
            f"""f{k} AS (
      SELECT und.v AS id, sum(r{k}.r / deg.d) AS fin
      FROM und JOIN r{k} ON r{k}.id = und.u JOIN deg ON deg.n = und.u
      GROUP BY und.v)"""
        )
        ctes.append(
            f"""r{k + 1} AS (
      SELECT deg.n AS id,
             round({_PPR_ALPHA} * (CASE WHEN deg.n = src.s THEN 1.0
                                        ELSE 0.0 END)
                   + {1 - _PPR_ALPHA} * coalesce(f{k}.fin, 0.0)
                   + 1e-12, {_PPR_ROUND}) AS r
      FROM deg CROSS JOIN src LEFT JOIN f{k} ON f{k}.id = deg.n)"""
        )
    final = f"r{_PPR_ITERS}"
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CAST(id AS BIGINT) AS nationkey,
           round(r + 1e-9, 6) AS ppr,
           CAST(CASE WHEN id = src.s THEN 1 ELSE 0 END AS BIGINT) AS is_source
    FROM {final} CROSS JOIN src
    ORDER BY round(r + 1e-9, 6) DESC, nationkey LIMIT 10
    """
    )


@staged("personalized_pagerank_trade", oracle=_ppr_oracle())
def personalized_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank on the sparsified trade graph, teleporting
    to the max-degree nation (deterministic smallest-id tiebreak): 5
    synchronous rounds of r <- 0.15·e_src + 0.85·A'D⁻¹r, each round's
    scores quantized to 8 dp so the DuckDB oracle replays the exact
    trajectory (the registered PageRank/HITS discipline). PPR is the
    seed-centric relevance primitive — 'which nations sit in THIS
    hub's trade neighborhood' — complementing the global
    ``pagerank_nation_trade``.

    Scale shape: one shuffle per round keyed by node (rank flow joins
    the edge list); ranks are node-sized; top-10 with rounded-score
    tiebreak (round-before-rank)."""
    _, und, deg = _trade_edges(Tables(spark, sf_dir))
    deg = deg.localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
    src = deg.orderBy(F.desc("d"), F.asc("n")).limit(1).select(
        F.col("n").alias("s")
    )
    r = deg.crossJoin(F.broadcast(src)).select(
        F.col("n").alias("id"),
        F.when(F.col("n") == F.col("s"), 1.0).otherwise(0.0).alias("r"),
    )
    for _ in range(_PPR_ITERS):
        flow = (
            und.join(r.withColumnRenamed("id", "u"), "u")
            .join(deg.withColumnRenamed("n", "u"), "u")
            .groupBy(F.col("v").alias("id"))
            .agg(F.sum(F.col("r") / F.col("d")).alias("fin"))
        )
        r = (
            deg.crossJoin(F.broadcast(src))
            .join(flow, deg["n"] == flow["id"], "left")
            .select(
                deg["n"].alias("id"),
                F.round(
                    _PPR_ALPHA
                    * F.when(deg["n"] == F.col("s"), 1.0).otherwise(0.0)
                    + (1 - _PPR_ALPHA) * F.coalesce(F.col("fin"), F.lit(0.0))
                    + 1e-12,
                    _PPR_ROUND,
                ).alias("r"),
            )
            .localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
        )
    out = r.crossJoin(F.broadcast(src)).select(
        F.col("id").cast("long").alias("nationkey"),
        F.round(F.col("r") + 1e-9, 6).alias("ppr"),
        F.when(F.col("id") == F.col("s"), 1).otherwise(0).cast("long").alias(
            "is_source"
        ),
    )
    return out.orderBy(F.desc("ppr"), F.asc("nationkey")).limit(10)


_TRUSS_ROUNDS = 2
_TRUSS_K = 4


def _ktruss_oracle() -> str:
    """Two unrolled support-prune rounds toward the 4-truss: per round,
    each surviving edge's triangle support (common neighbors within the
    surviving set), then keep support >= k-2 = 2."""
    ctes = [_TRADE_EDGE_CTES.strip(), "e1 AS (SELECT a, b FROM e0)"]
    cur = "e1"
    for r in range(_TRUSS_ROUNDS):
        ctes.append(
            f"""u{r} AS (
      SELECT a AS u, b AS v FROM {cur}
      UNION ALL SELECT b AS u, a AS v FROM {cur})"""
        )
        ctes.append(
            f"""s{r} AS (
      SELECT e.a, e.b, count(*) AS sup
      FROM {cur} e
      JOIN u{r} x ON x.u = e.a
      JOIN u{r} y ON y.u = e.b AND y.v = x.v
      GROUP BY e.a, e.b)"""
        )
        ctes.append(
            f"""e{r + 2} AS (
      SELECT a, b FROM s{r} WHERE sup >= {_TRUSS_K - 2})"""
        )
        cur = f"e{r + 2}"
    ctes.append(
        f"""uf AS (
      SELECT a AS u, b AS v FROM {cur}
      UNION ALL SELECT b AS u, a AS v FROM {cur})"""
    )
    ctes.append(
        f"""sf AS (
      SELECT e.a, e.b, count(*) AS sup
      FROM {cur} e
      JOIN uf x ON x.u = e.a
      JOIN uf y ON y.u = e.b AND y.v = x.v
      GROUP BY e.a, e.b)"""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + """
    SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
           CAST(sup AS BIGINT) AS support
    FROM sf ORDER BY a, b
    """
    )


@staged("ktruss_trade_graph", oracle=_ktruss_oracle())
def ktruss_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Toward the 4-truss of the sparsified trade graph: two
    synchronous support-prune rounds (drop every edge in fewer than
    k−2 = 2 triangles, recompute support on the survivors), reporting
    the surviving edges with their final triangle support. The truss
    is the standard cohesive-core generalization of triangle counting
    — a fixed unrolled round count keeps both engines on the identical
    trajectory (the LPA discipline) while real convergence at scale
    just raises the round count.

    Scale shape: support is ONE wedge self-join of the surviving edge
    list per round (bounded by sum of squared degrees), never an
    all-pairs product; the edge state is edge-sized."""
    e, _, _ = _trade_edges(Tables(spark, sf_dir))
    cur = e.select("a", "b")
    for _ in range(_TRUSS_ROUNDS + 1):
        und2 = cur.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
            cur.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        x = und2.select(F.col("u").alias("a"), F.col("v").alias("w"))
        y = und2.select(F.col("u").alias("b"), F.col("v").alias("w"))
        sup = (
            cur.join(x, "a")
            .join(y, ["b", "w"])
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("sup"))
        )
        nxt = sup.where(F.col("sup") >= _TRUSS_K - 2).select("a", "b")
        last_sup = sup
        cur = nxt.localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
    return last_sup.select(
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        F.col("sup").cast("long").alias("support"),
    ).orderBy("a", "b")


# ---------------------------------------------------------------------------
# Geo scale path, incremental sessionization, retention, fertility
# ---------------------------------------------------------------------------

from ror_etl_spark.queries.staged_r12 import _geo_df, _geo_sql  # noqa: E402


@staged(
    "geo_knn_cell_blocked",
    oracle=f"""
    WITH pts AS ({_geo_sql()}),
    cells AS (
      SELECT user_id, lat, lon,
             least(CAST(floor((lat + 90.0) / 180.0 * 16.0) AS BIGINT), 15)
               AS gy,
             least(CAST(floor((lon + 180.0) / 360.0 * 16.0) AS BIGINT), 15)
               AS gx
      FROM pts),
    q AS (
      SELECT n_nationkey AS qid,
             (CAST(n_nationkey AS DOUBLE) * 7.0) - 84.0 AS qlat,
             (CAST(n_nationkey AS DOUBLE) * 14.3) - 170.0 AS qlon
      FROM nation),
    qc AS (
      SELECT qid, qlat, qlon,
             least(CAST(floor((qlat + 90.0) / 180.0 * 16.0) AS BIGINT), 15)
               AS qgy,
             least(CAST(floor((qlon + 180.0) / 360.0 * 16.0) AS BIGINT), 15)
               AS qgx
      FROM q),
    probe AS (
      SELECT qc.qid, qc.qlat, qc.qlon,
             qc.qgy + dy.d AS gy, qc.qgx + dx.d AS gx
      FROM qc
      CROSS JOIN (SELECT unnest([-1, 0, 1]) AS d) dy
      CROSS JOIN (SELECT unnest([-1, 0, 1]) AS d) dx),
    d AS (
      SELECT p.qid, c.user_id,
             2.0 * 6371.0 * asin(sqrt(
               pow(sin(radians(c.lat - p.qlat) / 2), 2)
               + cos(radians(p.qlat)) * cos(radians(c.lat))
                 * pow(sin(radians(c.lon - p.qlon) / 2), 2))) AS km
      FROM probe p JOIN cells c ON c.gy = p.gy AND c.gx = p.gx),
    r AS (
      SELECT qid, user_id, km,
             row_number() OVER (PARTITION BY qid ORDER BY km, user_id) AS rn
      FROM d)
    SELECT qid, CAST(rn AS BIGINT) AS rn, user_id,
           round(km + 1e-9, 3) AS km
    FROM r WHERE rn <= 3 ORDER BY qid, rn
    """,
)
def geo_knn_cell_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-blocked haversine k-NN — the 100 TB scale path the
    registered brute ``geo_haversine_knn`` is the recall oracle for:
    points land in the same 16×16 lat/lon grid as
    ``geo_zorder_cell_counts``, each query probes its 3×3 cell
    neighborhood, and the trig distance runs only on those candidates.
    The cross join is GONE — candidates arrive through an equi-join on
    the cell key, which scales as |points in probed cells|, not
    |points|·|queries|. Deliberately approximate at the probe
    boundary (a neighbor outside the 3×3 ring is missed); the staging
    test measures recall against the brute op.

    Scale shape: one map-side cell assignment, a broadcast of 225
    (query, probe-cell) rows, an equi-join on the cell key, and a
    k-bounded per-query window (WindowGroupLimit)."""
    pts = _geo_df(spark, sf_dir)
    cells = pts.select(
        "user_id",
        "lat",
        "lon",
        F.least(
            F.floor((F.col("lat") + 90.0) / 180.0 * 16.0).cast("long"),
            F.lit(15).cast("long"),
        ).alias("gy"),
        F.least(
            F.floor((F.col("lon") + 180.0) / 360.0 * 16.0).cast("long"),
            F.lit(15).cast("long"),
        ).alias("gx"),
    )
    n = Tables(spark, sf_dir).nation
    q = n.select(
        F.col("n_nationkey").alias("qid"),
        (F.col("n_nationkey").cast("double") * 7.0 - 84.0).alias("qlat"),
        (F.col("n_nationkey").cast("double") * 14.3 - 170.0).alias("qlon"),
    )
    qc = q.select(
        "qid",
        "qlat",
        "qlon",
        F.least(
            F.floor((F.col("qlat") + 90.0) / 180.0 * 16.0).cast("long"),
            F.lit(15).cast("long"),
        ).alias("qgy"),
        F.least(
            F.floor((F.col("qlon") + 180.0) / 360.0 * 16.0).cast("long"),
            F.lit(15).cast("long"),
        ).alias("qgx"),
    )
    ring = spark.createDataFrame([(-1,), (0,), (1,)], "d long")
    probe = (
        qc.crossJoin(ring.select(F.col("d").alias("dy")))
        .crossJoin(ring.select(F.col("d").alias("dx")))
        .select(
            "qid",
            "qlat",
            "qlon",
            (F.col("qgy") + F.col("dy")).alias("gy"),
            (F.col("qgx") + F.col("dx")).alias("gx"),
        )
    )
    km = (
        2.0
        * 6371.0
        * F.asin(
            F.sqrt(
                F.pow(F.sin(F.radians(F.col("lat") - F.col("qlat")) / 2), 2)
                + F.cos(F.radians("qlat"))
                * F.cos(F.radians("lat"))
                * F.pow(F.sin(F.radians(F.col("lon") - F.col("qlon")) / 2), 2)
            )
        )
    )
    d = F.broadcast(probe).join(cells, ["gy", "gx"]).select(
        "qid", "user_id", km.alias("km")
    )
    r = d.select(
        "qid",
        "user_id",
        "km",
        F.row_number()
        .over(Window.partitionBy("qid").orderBy("km", "user_id"))
        .alias("rn"),
    )
    return (
        r.where(F.col("rn") <= 3)
        .select(
            "qid",
            F.col("rn").cast("long").alias("rn"),
            "user_id",
            F.round(F.col("km") + 1e-9, 3).alias("km"),
        )
        .orderBy("qid", "rn")
    )


_SESS_CUT = "2024-01-15"
_SESS_GAP_US = 1_800_000_000


@staged(
    "incremental_sessionize_merge",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts)
                    - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id)
                  > {_SESS_GAP_US} OR
                  lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                  IS NULL
                  THEN 1 ELSE 0 END AS is_start
      FROM events),
    sess AS (
      SELECT user_id, ts,
             sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM marked),
    per AS (
      SELECT user_id, sid, count(*) AS depth,
             max(CASE WHEN ts < TIMESTAMP '{_SESS_CUT}' THEN 1 ELSE 0 END)
               AS has_a,
             max(CASE WHEN ts >= TIMESTAMP '{_SESS_CUT}' THEN 1 ELSE 0 END)
               AS has_b
      FROM sess GROUP BY user_id, sid)
    SELECT CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN has_a = 1 AND has_b = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_boundary_sessions,
           CAST(sum(depth) AS BIGINT) AS total_events,
           CAST(max(depth) AS BIGINT) AS max_depth
    FROM per
    """,
)
def incremental_sessionize_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental sessionization with boundary stitching, PROVEN
    equivalent to the full-corpus sessionizer: the Spark side
    sessionizes the pre-cut batch (2024-01-15) and the post-cut batch
    INDEPENDENTLY (the nightly-increment reality — yesterday's
    sessions are already closed and stored), then merges each user's
    last pre-cut session with their first post-cut session when the
    boundary gap is within the 30-minute timeout. The DuckDB oracle
    sessionizes the WHOLE corpus in one pass — a hash match is an
    equivalence proof that the incremental path loses nothing at the
    batch seam, the property every incremental pipeline claims and
    few test.

    Scale shape: each batch sessionizes with the standard
    user-partitioned windows; the stitch is one per-user aggregate of
    batch tails and heads (user-sized), and the final report is a
    scalar aggregate."""
    e = Tables(spark, sf_dir).events
    cut = F.lit(_SESS_CUT).cast("timestamp_ntz")
    from ror_etl_spark.queries.util import epoch_us as _eus

    def _sessionize(batch: DataFrame) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        us = _eus(F.col("ts"))
        marked = batch.select(
            "user_id",
            "ts",
            "event_id",
            F.when(
                (us - F.lag(us).over(w) > _SESS_GAP_US)
                | F.lag(us).over(w).isNull(),
                1,
            )
            .otherwise(0)
            .alias("is_start"),
        )
        sid = marked.select(
            "user_id",
            "ts",
            F.sum("is_start")
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .alias("sid"),
        )
        return sid.groupBy("user_id", "sid").agg(
            F.count(F.lit(1)).alias("depth"),
            F.min(_eus(F.col("ts"))).alias("start_us"),
            F.max(_eus(F.col("ts"))).alias("end_us"),
        )
    a = _sessionize(e.filter(F.col("ts") < cut))
    b = _sessionize(e.filter(F.col("ts") >= cut))
    a_tail = a.groupBy("user_id").agg(
        F.max_by(F.struct("depth", "end_us"), "end_us").alias("t")
    ).select("user_id", F.col("t.depth").alias("a_depth"),
             F.col("t.end_us").alias("a_end"))
    b_head = b.groupBy("user_id").agg(
        F.min_by(F.struct("depth", "start_us"), "start_us").alias("h")
    ).select("user_id", F.col("h.depth").alias("b_depth"),
             F.col("h.start_us").alias("b_start"))
    stitch = a_tail.join(b_head, "user_id").select(
        "user_id",
        (F.col("b_start") - F.col("a_end") <= _SESS_GAP_US).alias("merged"),
        (F.col("a_depth") + F.col("b_depth")).alias("merged_depth"),
    )
    counts_a = a.agg(
        F.count(F.lit(1)).alias("na"),
        F.coalesce(F.sum("depth"), F.lit(0)).alias("ea"),
        F.coalesce(F.max("depth"), F.lit(0)).alias("ma"),
    )
    counts_b = b.agg(
        F.count(F.lit(1)).alias("nb"),
        F.coalesce(F.sum("depth"), F.lit(0)).alias("eb"),
        F.coalesce(F.max("depth"), F.lit(0)).alias("mb"),
    )
    counts_m = stitch.agg(
        F.coalesce(
            F.sum(F.when(F.col("merged"), 1).otherwise(0)), F.lit(0)
        ).alias("nm"),
        F.coalesce(
            F.max(F.when(F.col("merged"), F.col("merged_depth"))), F.lit(0)
        ).alias("mm"),
    )
    return (
        counts_a.crossJoin(F.broadcast(counts_b))
        .crossJoin(F.broadcast(counts_m))
        .select(
            (F.col("na") + F.col("nb") - F.col("nm"))
            .cast("long")
            .alias("n_sessions"),
            F.col("nm").cast("long").alias("n_boundary_sessions"),
            (F.col("ea") + F.col("eb")).cast("long").alias("total_events"),
            F.greatest("ma", "mb", "mm").cast("long").alias("max_depth"),
        )
    )


@staged(
    "session_depth_halflife_fit",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts)
                    - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id)
                  > {_SESS_GAP_US} OR
                  lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                  IS NULL
                  THEN 1 ELSE 0 END AS is_start
      FROM events),
    sess AS (
      SELECT user_id,
             sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM marked),
    per AS (SELECT count(*) AS depth FROM sess GROUP BY user_id, sid),
    tot AS (SELECT CAST(count(*) AS DOUBLE) AS n0 FROM per),
    grid AS (SELECT unnest(range(1, 9)) AS d),
    surv AS (
      SELECT grid.d AS x,
             ln(count(CASE WHEN per.depth >= grid.d THEN 1 END) / tot.n0)
               AS ly
      FROM grid CROSS JOIN per CROSS JOIN tot
      GROUP BY grid.d, tot.n0
      HAVING count(CASE WHEN per.depth >= grid.d THEN 1 END) > 0),
    fit AS (
      SELECT count(*) AS np, covar_pop(x, ly) AS sxy,
             var_pop(x) AS sxx, var_pop(ly) AS syy
      FROM surv)
    SELECT CAST(np AS BIGINT) AS n_depths,
           CASE WHEN sxx > 0 THEN round(sxy / sxx + 1e-9, 6)
                ELSE NULL END AS decay_slope,
           CASE WHEN sxx > 0 AND sxy < 0
                THEN round(-ln(2.0) * sxx / sxy + 1e-9, 4)
                ELSE NULL END AS halflife_depth,
           CASE WHEN sxx > 0 AND syy > 0
                THEN round(sxy * sxy / (sxx * syy) + 1e-9, 6)
                ELSE NULL END AS r2
    FROM fit
    """,
)
def session_depth_halflife_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-depth half-life: the survival curve P(depth >= d) of
    30-minute sessions over d = 1..8, fit log-linearly — halflife =
    -ln2/slope is 'every H extra events, half the sessions have
    dropped off', with R² as the geometric-decay fit quality. Session
    depth genuinely decays on this corpus (unlike weekly user
    retention, which is flat because the synthetic users never churn),
    so the fit is exercised with real variance at every SF. The decay
    constant compresses the registered ``sessionize_events`` depth
    distribution into the single number a product review quotes.

    Scale shape: the sessionizer is the standard user-partitioned
    window pair; the survival ladder is an 8-row broadcast grid joined
    against the session-depth aggregate, and the fit is closed-form
    moments over <= 8 points."""
    e = Tables(spark, sf_dir).events
    from ror_etl_spark.queries.util import epoch_us as _eus

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = _eus(F.col("ts"))
    marked = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            (us - F.lag(us).over(w) > _SESS_GAP_US)
            | F.lag(us).over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("is_start"),
    )
    sess = marked.select(
        "user_id",
        F.sum("is_start")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("sid"),
    )
    per = sess.groupBy("user_id", "sid").agg(F.count(F.lit(1)).alias("depth"))
    tot = per.agg(F.count(F.lit(1)).cast("double").alias("n0"))
    grid = spark.range(1, 9).select(F.col("id").alias("d"))
    surv = (
        F.broadcast(grid)
        .crossJoin(per)
        .crossJoin(F.broadcast(tot))
        .groupBy("d", "n0")
        .agg(
            F.count(F.when(F.col("depth") >= F.col("d"), 1)).alias("nk")
        )
        .where(F.col("nk") > 0)
        .select(
            F.col("d").cast("double").alias("x"),
            F.log(F.col("nk") / F.col("n0")).alias("ly"),
        )
    )
    fit = surv.agg(
        F.count(F.lit(1)).alias("np"),
        F.covar_pop("x", "ly").alias("sxy"),
        F.var_pop("x").alias("sxx"),
        F.var_pop("ly").alias("syy"),
    )
    import math as _math

    ok_x = F.col("sxx") > 0
    return fit.select(
        F.col("np").cast("long").alias("n_depths"),
        F.when(
            ok_x, F.round(F.col("sxy") / F.col("sxx") + 1e-9, 6)
        ).alias("decay_slope"),
        F.when(
            ok_x & (F.col("sxy") < 0),
            F.round(
                -_math.log(2.0) * F.col("sxx") / F.col("sxy") + 1e-9, 4
            ),
        ).alias("halflife_depth"),
        F.when(
            ok_x & (F.col("syy") > 0),
            F.round(
                F.col("sxy") * F.col("sxy") / (F.col("sxx") * F.col("syy"))
                + 1e-9,
                6,
            ),
        ).alias("r2"),
    )


@staged(
    "tokenizer_fertility_by_language",
    oracle="""
    WITH tok AS (
      SELECT lang,
             CAST(length(list_filter(
               regexp_extract_all(text,
                 '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n]'),
               x -> x <> '')) AS BIGINT) AS bpe,
             CAST(length(list_filter(
               string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' '),
               x -> x <> '')) AS BIGINT) AS words,
             n_chars
      FROM documents),
    agg AS (
      SELECT lang, count(*) AS n_docs, sum(bpe) AS t, sum(words) AS w,
             sum(n_chars) AS ch
      FROM tok GROUP BY lang)
    SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(t AS BIGINT) AS n_tokens,
           CAST(w AS BIGINT) AS n_words,
           round(t * 1.0 / w + 1e-9, 4) AS fertility,
           round(ch * 1.0 / t + 1e-9, 4) AS chars_per_token
    FROM agg ORDER BY lang
    """,
)
def tokenizer_fertility_by_language(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language: BPE-ish tokens per whitespace
    word and characters per token, per document language — the
    tokenizer-equity report (languages with fertility ≫ English pay
    more context budget per word, the standard multilingual-corpus
    health check). Uses the registered deterministic BPE-ish token
    estimator so the number is comparable with
    ``llm_bpe_token_counts``.

    Scale shape: one map-side regex pass per document and one tiny
    per-language aggregate — no shuffle beyond the groupBy."""
    from ror_etl_spark.functions.text import bpe_ish_token_count

    d = Tables(spark, sf_dir).documents
    words = F.size(
        F.filter(
            F.split(
                F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")), " "
            ),
            lambda x: x != "",
        )
    )
    tok = d.select(
        "lang",
        bpe_ish_token_count(F.col("text")).cast("long").alias("bpe"),
        words.cast("long").alias("words"),
        "n_chars",
    )
    agg = tok.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("bpe").alias("t"),
        F.sum("words").alias("w"),
        F.sum("n_chars").alias("ch"),
    )
    return agg.select(
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("t").cast("long").alias("n_tokens"),
        F.col("w").cast("long").alias("n_words"),
        F.round(F.col("t") * 1.0 / F.col("w") + 1e-9, 4).alias("fertility"),
        F.round(F.col("ch") * 1.0 / F.col("t") + 1e-9, 4).alias(
            "chars_per_token"
        ),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# Wave 8: weighted quantiles, Simpson-paradox screen
# ---------------------------------------------------------------------------


@staged(
    "weighted_quantiles_quantity",
    oracle="""
    WITH wv AS (
      SELECT l_quantity AS q, sum(l_extendedprice) AS w
      FROM lineitem GROUP BY q),
    cum AS (
      SELECT q, w,
             sum(w) OVER (ORDER BY q
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             sum(w) OVER () AS tw
      FROM wv),
    taus AS (SELECT unnest([0.25, 0.5, 0.75]) AS tau),
    pick AS (
      SELECT taus.tau, min(cum.q) AS value
      FROM taus JOIN cum ON cum.cw >= taus.tau * cum.tw
      GROUP BY taus.tau)
    SELECT pick.tau AS tau,
           round(pick.value + 1e-9, 2) AS value,
           round(c2.cw / c2.tw + 1e-9, 6) AS cum_weight_share
    FROM pick JOIN cum c2 ON c2.q = pick.value
    ORDER BY tau
    """,
)
def weighted_quantiles_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-weighted quantiles of order quantity (tau = .25/.5/.75):
    the smallest quantity whose cumulative revenue weight reaches
    tau·W — 'half the revenue ships in lines of quantity <= X', the
    weighted-median primitive every mixture-reweighting pipeline needs
    (plain medians answer the row question; weighted medians answer
    the MASS question).

    Scale shape: l_quantity is a small discrete domain (1..50), so ONE
    value-keyed aggregate reduces the fact table to a domain-bounded
    frame and the cumulative scan is a 50-row window — at 100 TB only
    the first aggregate sees data. For continuous weight columns the
    same op runs on ``equidepth_bin_assign``'s binned domain."""
    li = Tables(spark, sf_dir).lineitem
    wv = li.groupBy(F.col("l_quantity").alias("q")).agg(
        F.sum("l_extendedprice").alias("w")
    )
    wall = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, 0)
    # lazy checkpoint: cum feeds BOTH the tau pick and the share
    # lookup; without it Catalyst re-derives the aggregate from a
    # second full lineitem scan (verified in the r12 plan audit)
    cum = wv.select(
        "q",
        F.sum("w").over(wall).alias("cw"),
        F.sum("w").over(Window.partitionBy()).alias("tw"),
    ).localCheckpoint(eager=False)
    taus = spark.createDataFrame([(0.25,), (0.5,), (0.75,)], "tau double")
    pick = (
        F.broadcast(taus)
        .join(cum, F.col("cw") >= F.col("tau") * F.col("tw"))
        .groupBy("tau")
        .agg(F.min("q").alias("value"))
    )
    c2 = cum.select(F.col("q").alias("value"), "cw", "tw")
    return (
        pick.join(c2, "value")
        .select(
            "tau",
            F.round(F.col("value") + 1e-9, 2).alias("value"),
            F.round(F.col("cw") / F.col("tw") + 1e-9, 6).alias(
                "cum_weight_share"
            ),
        )
        .orderBy("tau")
    )


@staged(
    "simpson_paradox_screen",
    oracle="""
    WITH med AS (
      SELECT quantile_disc(o_totalprice, 0.5) AS m FROM orders),
    base AS (
      SELECT c.c_mktsegment AS seg,
             CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
               AS x,
             CASE WHEN o.o_totalprice > med.m THEN 1 ELSE 0 END AS y
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      CROSS JOIN med),
    strat AS (
      SELECT seg,
             avg(CASE WHEN x = 1 THEN CAST(y AS DOUBLE) END)
             - avg(CASE WHEN x = 0 THEN CAST(y AS DOUBLE) END) AS d
      FROM base GROUP BY seg),
    agg AS (
      SELECT avg(CASE WHEN x = 1 THEN CAST(y AS DOUBLE) END)
             - avg(CASE WHEN x = 0 THEN CAST(y AS DOUBLE) END) AS d
      FROM base),
    sm AS (
      SELECT count(*) AS n_strata,
             sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS n_pos,
             sum(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS n_neg,
             round(avg(d) + 1e-9, 6) AS mean_stratum_diff
      FROM strat)
    SELECT CAST(sm.n_strata AS BIGINT) AS n_strata,
           CAST(sm.n_pos AS BIGINT) AS n_pos,
           CAST(sm.n_neg AS BIGINT) AS n_neg,
           sm.mean_stratum_diff,
           round(agg.d + 1e-9, 6) AS aggregate_diff,
           CAST(CASE WHEN (agg.d > 0 AND sm.n_neg > sm.n_pos)
                       OR (agg.d < 0 AND sm.n_pos > sm.n_neg)
                     THEN 1 ELSE 0 END AS BIGINT) AS reversal_flag
    FROM sm CROSS JOIN agg
    """,
)
def simpson_paradox_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox screen for the URGENT-priority -> high-value
    association: the aggregate risk difference P(high|urgent) −
    P(high|other) next to the per-market-segment differences, with a
    reversal flag when the aggregate sign contradicts the stratum
    majority — the confounding tripwire to run before quoting ANY
    aggregate uplift (companion to the registered CMH test, which
    assumes you already knew to stratify).

    Scale shape: one exact-median pass, one fact-join aggregate to
    (segment, x) sufficient statistics, then scalar algebra on the
    5-row stratum frame."""
    t = Tables(spark, sf_dir)
    med = t.orders.agg(
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)"
        ).alias("m")
    )
    base = (
        t.orders.join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .crossJoin(F.broadcast(med))
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.when(F.col("o_orderpriority") == "1-URGENT", 1)
            .otherwise(0)
            .alias("x"),
            F.when(F.col("o_totalprice") > F.col("m"), 1)
            .otherwise(0)
            .alias("y"),
        )
    )
    d_expr = F.avg(
        F.when(F.col("x") == 1, F.col("y").cast("double"))
    ) - F.avg(F.when(F.col("x") == 0, F.col("y").cast("double")))
    strat = base.groupBy("seg").agg(d_expr.alias("d"))
    agg = base.agg(d_expr.alias("da"))
    sm = strat.agg(
        F.count(F.lit(1)).alias("n_strata"),
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0)).alias("n_pos"),
        F.sum(F.when(F.col("d") < 0, 1).otherwise(0)).alias("n_neg"),
        F.round(F.avg("d") + 1e-9, 6).alias("mean_stratum_diff"),
    )
    rev = (
        ((F.col("da") > 0) & (F.col("n_neg") > F.col("n_pos")))
        | ((F.col("da") < 0) & (F.col("n_pos") > F.col("n_neg")))
    )
    return sm.crossJoin(F.broadcast(agg)).select(
        F.col("n_strata").cast("long").alias("n_strata"),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        "mean_stratum_diff",
        F.round(F.col("da") + 1e-9, 6).alias("aggregate_diff"),
        F.when(rev, 1).otherwise(0).cast("long").alias("reversal_flag"),
    )


# ---------------------------------------------------------------------------
# Wave 9: inequality indices, 2x2/ordinal association, unit-root and
# Granger diagnostics, exact Wasserstein, burstiness, graph centrality,
# hubness, Holt smoothing
# ---------------------------------------------------------------------------


@staged(
    "atkinson_index_customer_revenue",
    oracle="""
    WITH rev AS (
      SELECT o_custkey, sum(o_totalprice) AS y FROM orders GROUP BY 1),
    m AS (
      SELECT count(*) AS n, avg(y) AS mu,
             avg(sqrt(y)) AS mh, sum(1.0 / y) AS sinv
      FROM rev)
    SELECT CAST(n AS BIGINT) AS n_customers,
           round(mu + 1e-9, 2) AS mean_revenue,
           round(1.0 - (mh * mh) / mu + 1e-9, 6) AS atkinson_e05,
           round(1.0 - (n / sinv) / mu + 1e-9, 6) AS atkinson_e2
    FROM m
    """,
)
def atkinson_index_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atkinson inequality indices of per-customer revenue at aversion
    epsilon = 0.5 (A = 1 - (mean sqrt y)^2 / mean y) and epsilon = 2
    (A = 1 - harmonic_mean / mean). Welfare-weighted complements to the
    registered Gini/Theil/Lorenz family: epsilon picks WHERE on the
    distribution inequality hurts (eps=2 is dominated by the poorest
    customers, eps=0.5 by the bulk), so the pair localizes which tail
    drives a Gini move.

    Scale shape: one custkey-keyed aggregate then one scalar aggregate
    — all-row statistics from sums of y^p, never a sort."""
    o = Tables(spark, sf_dir).orders
    rev = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("y"))
    m = rev.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("y").alias("mu"),
        F.avg(F.sqrt("y")).alias("mh"),
        F.sum(F.lit(1.0) / F.col("y")).alias("sinv"),
    )
    return m.select(
        F.col("n").cast("long").alias("n_customers"),
        F.round(F.col("mu") + 1e-9, 2).alias("mean_revenue"),
        F.round(
            1.0 - (F.col("mh") * F.col("mh")) / F.col("mu") + 1e-9, 6
        ).alias("atkinson_e05"),
        F.round(
            1.0 - (F.col("n") / F.col("sinv")) / F.col("mu") + 1e-9, 6
        ).alias("atkinson_e2"),
    )


@staged(
    "income_share_ratios_revenue",
    oracle="""
    WITH rev AS (
      SELECT o_custkey, sum(o_totalprice) AS y FROM orders GROUP BY 1),
    rk AS (
      SELECT o_custkey, y,
             row_number() OVER (ORDER BY y, o_custkey) AS r
      FROM rev),
    tot AS (SELECT count(*) AS n, sum(y) AS ty FROM rev),
    seg AS (
      SELECT 'q' || CAST(((r - 1) * 5) // n + 1 AS VARCHAR) AS segment,
             count(*) AS nc, sum(y) AS sy
      FROM rk CROSS JOIN tot GROUP BY 1
      UNION ALL
      SELECT 'bottom40', count(*), sum(y)
      FROM rk CROSS JOIN tot WHERE r <= (n * 2) // 5
      UNION ALL
      SELECT 'top10', count(*), sum(y)
      FROM rk CROSS JOIN tot WHERE r > n - n // 10),
    palma AS (
      SELECT (SELECT sum(y) FROM rk CROSS JOIN tot WHERE r > n - n // 10)
             / (SELECT sum(y) FROM rk CROSS JOIN tot
                WHERE r <= (n * 2) // 5) AS p)
    SELECT seg.segment,
           CAST(seg.nc AS BIGINT) AS n_customers,
           round(seg.sy / tot.ty + 1e-9, 6) AS revenue_share,
           round(palma.p + 1e-9, 6) AS palma_ratio
    FROM seg CROSS JOIN tot CROSS JOIN palma
    ORDER BY segment
    """,
)
def income_share_ratios_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration shares: exact quintile shares of
    per-customer revenue plus the bottom-40% and top-10% segments and
    the Palma ratio (top-10 share / bottom-40 share) — the
    concentration summary regulators and data-mixture owners actually
    quote, complementing the registered Lorenz/Gini curve with named
    cut points. Cutoffs are exact integer ranks (floor arithmetic on
    row_number over (revenue, custkey)), so no percentile
    interpolation rule crosses the engine boundary.

    Scale shape: ranks over the customer-sized frame route through
    ``global_cumsum`` (range shuffle + carry), never a single-task
    global window; segments then aggregate to <= 7 rows."""
    from ror_etl_spark.operators.util import global_cumsum

    o = Tables(spark, sf_dir).orders
    rev = (
        o.groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("y"))
        .withColumn("one", F.lit(1).cast("long"))
    )
    rk = global_cumsum(rev, ["y", "o_custkey"], "one", out="prior").select(
        "o_custkey", "y", (F.col("prior") + 1).alias("r")
    )
    tot = rev.agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("ty")
    )
    j = rk.crossJoin(F.broadcast(tot)).localCheckpoint(
        eager=False, storageLevel=_DISK_ONLY
    )
    # the oracle's ((r-1)*5)/n is DuckDB integer division; Spark's / is
    # double division, so the same floor is spelled explicitly
    quint = j.groupBy(
        F.concat(
            F.lit("q"),
            (F.floor((F.col("r") - 1) * 5 / F.col("n")) + 1).cast("string"),
        ).alias("segment")
    ).agg(F.count(F.lit(1)).alias("nc"), F.sum("y").alias("sy"))
    bottom = j.filter(
        F.col("r") <= F.floor(F.col("n") * 2 / 5)
    ).agg(
        F.lit("bottom40").alias("segment"),
        F.count(F.lit(1)).alias("nc"),
        F.sum("y").alias("sy"),
    )
    top = j.filter(
        F.col("r") > F.col("n") - F.floor(F.col("n") / 10)
    ).agg(
        F.lit("top10").alias("segment"),
        F.count(F.lit(1)).alias("nc"),
        F.sum("y").alias("sy"),
    )
    segs = quint.unionByName(bottom).unionByName(top)
    palma = (
        top.select(F.col("sy").alias("sy_top"))
        .crossJoin(bottom.select(F.col("sy").alias("sy_bot")))
        .select((F.col("sy_top") / F.col("sy_bot")).alias("p"))
    )
    return (
        segs.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(palma))
        .select(
            "segment",
            F.col("nc").cast("long").alias("n_customers"),
            F.round(F.col("sy") / F.col("ty") + 1e-9, 6).alias(
                "revenue_share"
            ),
            F.round(F.col("p") + 1e-9, 6).alias("palma_ratio"),
        )
        .orderBy("segment")
    )


@staged(
    "odds_ratio_click_purchase",
    oracle="""
    WITH u AS (
      SELECT user_id,
             max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ck,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS pu
      FROM events GROUP BY 1),
    t AS (
      SELECT count(*) AS n,
             sum(CASE WHEN ck = 1 AND pu = 1 THEN 1 ELSE 0 END) AS a,
             sum(CASE WHEN ck = 1 AND pu = 0 THEN 1 ELSE 0 END) AS b,
             sum(CASE WHEN ck = 0 AND pu = 1 THEN 1 ELSE 0 END) AS c,
             sum(CASE WHEN ck = 0 AND pu = 0 THEN 1 ELSE 0 END) AS d
      FROM u),
    s AS (
      SELECT n, a, b, c, d,
             ((a + 0.5) * (d + 0.5)) / ((b + 0.5) * (c + 0.5)) AS orr,
             sqrt(1.0 / (a + 0.5) + 1.0 / (b + 0.5)
                  + 1.0 / (c + 0.5) + 1.0 / (d + 0.5)) AS se
      FROM t)
    SELECT CAST(n AS BIGINT) AS n_users,
           CAST(a AS BIGINT) AS n_both, CAST(b AS BIGINT) AS n_click_only,
           CAST(c AS BIGINT) AS n_purchase_only,
           CAST(d AS BIGINT) AS n_neither,
           round(orr + 1e-9, 6) AS odds_ratio,
           round(ln(orr) + 1e-9, 6) AS log_or,
           round(exp(ln(orr) - 1.959964 * se) + 1e-9, 6) AS ci_low,
           round(exp(ln(orr) + 1.959964 * se) + 1e-9, 6) AS ci_high
    FROM s
    """,
)
def odds_ratio_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-level click/purchase odds ratio with the Haldane-Anscombe
    +0.5 correction (applied unconditionally so zero cells degrade
    gracefully instead of producing inf) and the Woolf-logit 95% CI.
    The effect-size-with-uncertainty companion to the registered
    chi-square/McNemar family — a chi-square says the 2x2 is
    dependent, the OR+CI says HOW MUCH and with what precision.

    Scale shape: one user-keyed aggregate then one 4-cell scalar
    aggregate; the CI is pure scalar algebra on one row."""
    e = Tables(spark, sf_dir).events
    u = e.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("ck"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "pu"
        ),
    )
    t = u.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when((F.col("ck") == 1) & (F.col("pu") == 1), 1).otherwise(0)).alias("a"),
        F.sum(F.when((F.col("ck") == 1) & (F.col("pu") == 0), 1).otherwise(0)).alias("b"),
        F.sum(F.when((F.col("ck") == 0) & (F.col("pu") == 1), 1).otherwise(0)).alias("c"),
        F.sum(F.when((F.col("ck") == 0) & (F.col("pu") == 0), 1).otherwise(0)).alias("d"),
    )
    orr = ((F.col("a") + 0.5) * (F.col("d") + 0.5)) / (
        (F.col("b") + 0.5) * (F.col("c") + 0.5)
    )
    se = F.sqrt(
        1.0 / (F.col("a") + 0.5)
        + 1.0 / (F.col("b") + 0.5)
        + 1.0 / (F.col("c") + 0.5)
        + 1.0 / (F.col("d") + 0.5)
    )
    s = t.select("n", "a", "b", "c", "d", orr.alias("orr"), se.alias("se"))
    return s.select(
        F.col("n").cast("long").alias("n_users"),
        F.col("a").cast("long").alias("n_both"),
        F.col("b").cast("long").alias("n_click_only"),
        F.col("c").cast("long").alias("n_purchase_only"),
        F.col("d").cast("long").alias("n_neither"),
        F.round(F.col("orr") + 1e-9, 6).alias("odds_ratio"),
        F.round(F.log(F.col("orr")) + 1e-9, 6).alias("log_or"),
        F.round(
            F.exp(F.log(F.col("orr")) - 1.959964 * F.col("se")) + 1e-9, 6
        ).alias("ci_low"),
        F.round(
            F.exp(F.log(F.col("orr")) + 1.959964 * F.col("se")) + 1e-9, 6
        ).alias("ci_high"),
    )


@staged(
    "goodman_kruskal_gamma_priority_status",
    oracle="""
    WITH cells AS (
      SELECT CAST(substring(o_orderpriority, 1, 1) AS INT) AS pr,
             o_orderstatus AS st, count(*) AS n
      FROM orders GROUP BY 1, 2),
    pairs AS (
      SELECT sum(CASE WHEN (a.pr < b.pr AND a.st < b.st) THEN a.n * b.n
                      ELSE 0 END) AS conc,
             sum(CASE WHEN (a.pr < b.pr AND a.st > b.st) THEN a.n * b.n
                      ELSE 0 END) AS disc
      FROM cells a CROSS JOIN cells b),
    tot AS (SELECT sum(n) AS n_orders FROM cells)
    SELECT CAST(tot.n_orders AS BIGINT) AS n_orders,
           CAST(pairs.conc AS BIGINT) AS concordant,
           CAST(pairs.disc AS BIGINT) AS discordant,
           round((pairs.conc - pairs.disc) * 1.0
                 / (pairs.conc + pairs.disc) + 1e-9, 6) AS gamma
    FROM pairs CROSS JOIN tot
    """,
)
def goodman_kruskal_gamma_priority_status(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Goodman-Kruskal gamma between order priority (ordinal 1-URGENT
    .. 5-LOW by numeric prefix) and order status (ordinal by its
    F < O < P string order): gamma = (C - D)/(C + D) over concordant /
    discordant pairs, ties dropped. The ordinal-association companion
    to the registered Cramer's V (nominal) and Kendall tau (numeric) —
    gamma is the one that respects category ORDER without requiring
    numeric scores.

    Scale shape: the fact table reduces to a <= 15-cell contingency
    aggregate; the pair double-sum is a bounded crossJoin of that cell
    frame with itself (<= 225 rows) — exact integer counts, O(n) in the
    fact table and O(cells^2) after."""
    o = Tables(spark, sf_dir).orders
    cells = o.groupBy(
        F.substring("o_orderpriority", 1, 1).cast("int").alias("pr"),
        F.col("o_orderstatus").alias("st"),
    ).agg(F.count(F.lit(1)).alias("n"))
    a = cells.select(
        F.col("pr").alias("pa"), F.col("st").alias("sa"), F.col("n").alias("na")
    )
    b = cells.select(
        F.col("pr").alias("pb"), F.col("st").alias("sb"), F.col("n").alias("nb")
    )
    pairs = (
        a.crossJoin(F.broadcast(b))
        .agg(
            F.sum(
                F.when(
                    (F.col("pa") < F.col("pb")) & (F.col("sa") < F.col("sb")),
                    F.col("na") * F.col("nb"),
                ).otherwise(F.lit(0).cast("long"))
            ).alias("conc"),
            F.sum(
                F.when(
                    (F.col("pa") < F.col("pb")) & (F.col("sa") > F.col("sb")),
                    F.col("na") * F.col("nb"),
                ).otherwise(F.lit(0).cast("long"))
            ).alias("disc"),
        )
    )
    tot = cells.agg(F.sum("n").alias("n_orders"))
    return pairs.crossJoin(F.broadcast(tot)).select(
        F.col("n_orders").cast("long").alias("n_orders"),
        F.col("conc").cast("long").alias("concordant"),
        F.col("disc").cast("long").alias("discordant"),
        F.round(
            (F.col("conc") - F.col("disc"))
            / (F.col("conc") + F.col("disc"))
            + 1e-9,
            6,
        ).alias("gamma"),
    )


@staged(
    "dickey_fuller_daily_revenue",
    oracle=f"""
    WITH {_DAILY_SQL},
    lagged AS (
      SELECT y - lag(y) OVER (ORDER BY t) AS dy,
             lag(y) OVER (ORDER BY t) AS x
      FROM daily),
    obs AS (SELECT dy, x FROM lagged WHERE x IS NOT NULL),
    mu AS (SELECT avg(dy) AS mdy, avg(x) AS mx, count(*) AS n FROM obs),
    s AS (
      SELECT max(mu.n) AS n,
             sum((o.x - mu.mx) * (o.x - mu.mx)) AS sxx,
             sum((o.x - mu.mx) * (o.dy - mu.mdy)) AS sxy,
             sum((o.dy - mu.mdy) * (o.dy - mu.mdy)) AS syy
      FROM obs o CROSS JOIN mu),
    fit AS (
      SELECT n, sxy / sxx AS g,
             (syy - (sxy / sxx) * sxy) / (n - 2) AS s2, sxx
      FROM s)
    SELECT CAST(n AS BIGINT) AS n_obs,
           round(g + 1e-9, 6) AS gamma_hat,
           round(g / sqrt(s2 / sxx) + 1e-9, 6) AS df_t_stat,
           CASE WHEN g < 0 AND g > -1
                THEN round(ln(0.5) / ln(1.0 + g) + 1e-9, 4)
                ELSE NULL END AS halflife_days
    FROM fit
    """,
)
def dickey_fuller_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dickey-Fuller unit-root screen on daily purchase revenue:
    regress delta-y on lagged y (with intercept, via centered
    co-moments); gamma ~ 0 means a random-walk-like series whose
    shocks persist (don't difference-detrend with a constant), gamma
    well below 0 means mean reversion with half-life
    ln(.5)/ln(1+gamma). Gate for the registered AR(1)/Holt forecast
    closures — their prediction intervals assume stationarity, and
    this is the test of that assumption.

    Scale shape: the events table reduces to the bounded daily frame
    (~366 rows) in one groupBy; the lag window and the two-pass
    central-moment aggregates are domain-bounded."""
    d = _daily_df(spark, sf_dir)
    w = Window.orderBy("t")
    lagged = d.select(
        (F.col("y") - F.lag("y").over(w)).alias("dy"),
        F.lag("y").over(w).alias("x"),
    ).filter(F.col("x").isNotNull())
    mu = lagged.agg(
        F.avg("dy").alias("mdy"), F.avg("x").alias("mx"), F.count(F.lit(1)).alias("n")
    )
    s = lagged.crossJoin(F.broadcast(mu)).agg(
        F.max("n").alias("n"),
        F.sum((F.col("x") - F.col("mx")) * (F.col("x") - F.col("mx"))).alias("sxx"),
        F.sum((F.col("x") - F.col("mx")) * (F.col("dy") - F.col("mdy"))).alias("sxy"),
        F.sum((F.col("dy") - F.col("mdy")) * (F.col("dy") - F.col("mdy"))).alias(
            "syy"
        ),
    )
    g = F.col("sxy") / F.col("sxx")
    s2 = (F.col("syy") - g * F.col("sxy")) / (F.col("n") - 2)
    return s.select(
        F.col("n").cast("long").alias("n_obs"),
        F.round(g + 1e-9, 6).alias("gamma_hat"),
        F.round(g / F.sqrt(s2 / F.col("sxx")) + 1e-9, 6).alias("df_t_stat"),
        F.when(
            (g < 0) & (g > -1),
            F.round(F.log(F.lit(0.5)) / F.log(1.0 + g) + 1e-9, 4),
        ).alias("halflife_days"),
    )


_GRANGER_DAILY_SQL = """dcounts AS (
      SELECT CAST(date_diff('day', TIMESTAMP '2024-01-01', ts) AS BIGINT)
               AS t,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS pc,
             sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS cc
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY 1)"""


@staged(
    "granger_causality_click_purchase",
    oracle=f"""
    WITH {_GRANGER_DAILY_SQL},
    lagged AS (
      SELECT pc, cc,
             lag(pc) OVER (ORDER BY t) AS pl,
             lag(cc) OVER (ORDER BY t) AS cl
      FROM dcounts),
    obs AS (SELECT pc, cc, pl, cl FROM lagged WHERE pl IS NOT NULL),
    mu AS (
      SELECT avg(pc) AS mpc, avg(cc) AS mcc, avg(pl) AS mpl,
             avg(cl) AS mcl, count(*) AS n
      FROM obs),
    s AS (
      SELECT max(mu.n) AS n,
             sum((pl - mpl) * (pl - mpl)) AS vpl,
             sum((cl - mcl) * (cl - mcl)) AS vcl,
             sum((pc - mpc) * (pc - mpc)) AS vpc,
             sum((cc - mcc) * (cc - mcc)) AS vcc,
             sum((pl - mpl) * (cl - mcl)) AS cplcl,
             sum((pl - mpl) * (pc - mpc)) AS cplpc,
             sum((cl - mcl) * (pc - mpc)) AS cclpc,
             sum((cl - mcl) * (cc - mcc)) AS cclcc,
             sum((pl - mpl) * (cc - mcc)) AS cplcc
      FROM obs CROSS JOIN mu),
    fits AS (
      SELECT 'click->purchase' AS direction, n,
             (cclpc * vpl - cplpc * cplcl)
               / (vpl * vcl - cplcl * cplcl) AS beta_cross,
             vpc - ((cplpc * vcl - cclpc * cplcl)
                    / (vpl * vcl - cplcl * cplcl)) * cplpc
                 - ((cclpc * vpl - cplpc * cplcl)
                    / (vpl * vcl - cplcl * cplcl)) * cclpc AS sse_u,
             vpc - cplpc * cplpc / vpl AS sse_r
      FROM s
      UNION ALL
      SELECT 'purchase->click' AS direction, n,
             (cplcc * vcl - cclcc * cplcl)
               / (vpl * vcl - cplcl * cplcl) AS beta_cross,
             vcc - ((cclcc * vpl - cplcc * cplcl)
                    / (vpl * vcl - cplcl * cplcl)) * cclcc
                 - ((cplcc * vcl - cclcc * cplcl)
                    / (vpl * vcl - cplcl * cplcl)) * cplcc AS sse_u,
             vcc - cclcc * cclcc / vcl AS sse_r
      FROM s)
    SELECT direction, CAST(n AS BIGINT) AS n_obs,
           round(beta_cross + 1e-9, 6) AS beta_cross,
           round((sse_r - sse_u) * (n - 3) / sse_u + 1e-9, 6) AS f_stat
    FROM fits
    ORDER BY direction
    """,
)
def granger_causality_click_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lag-1 Granger causality between daily click and purchase counts,
    both directions: F-test of whether yesterday's clicks improve
    today's purchase forecast beyond yesterday's purchases (and vice
    versa). Unrestricted OLS y_t ~ 1 + y_{t-1} + x_{t-1} solved in
    closed form from centered co-moments (2x2 normal equations);
    F = (SSE_r - SSE_u)(n-3)/SSE_u. The lead-lag DIRECTION diagnostic
    the registered cross-correlation op can't give (correlation at lag
    k is symmetric evidence; Granger conditions on own history).

    Scale shape: one day-keyed aggregate reduces events to the bounded
    daily frame; BOTH directions come from ONE nine-sum co-moment
    aggregate (the restricted and unrestricted fits share sufficient
    statistics), so adding a direction costs zero passes."""
    e = Tables(spark, sf_dir).events.filter(
        F.col("event_type").isin("click", "purchase")
    )
    d = e.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("t")
    ).agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("pc"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("cc"),
    )
    w = Window.orderBy("t")
    lagged = d.select(
        "pc",
        "cc",
        F.lag("pc").over(w).alias("pl"),
        F.lag("cc").over(w).alias("cl"),
    ).filter(F.col("pl").isNotNull())
    mu = lagged.agg(
        F.avg("pc").alias("mpc"),
        F.avg("cc").alias("mcc"),
        F.avg("pl").alias("mpl"),
        F.avg("cl").alias("mcl"),
        F.count(F.lit(1)).alias("n"),
    )
    dev = lambda c, m: F.col(c) - F.col(m)  # noqa: E731
    s = lagged.crossJoin(F.broadcast(mu)).agg(
        F.max("n").alias("n"),
        F.sum(dev("pl", "mpl") * dev("pl", "mpl")).alias("vpl"),
        F.sum(dev("cl", "mcl") * dev("cl", "mcl")).alias("vcl"),
        F.sum(dev("pc", "mpc") * dev("pc", "mpc")).alias("vpc"),
        F.sum(dev("cc", "mcc") * dev("cc", "mcc")).alias("vcc"),
        F.sum(dev("pl", "mpl") * dev("cl", "mcl")).alias("cplcl"),
        F.sum(dev("pl", "mpl") * dev("pc", "mpc")).alias("cplpc"),
        F.sum(dev("cl", "mcl") * dev("pc", "mpc")).alias("cclpc"),
        F.sum(dev("cl", "mcl") * dev("cc", "mcc")).alias("cclcc"),
        F.sum(dev("pl", "mpl") * dev("cc", "mcc")).alias("cplcc"),
    )
    det = F.col("vpl") * F.col("vcl") - F.col("cplcl") * F.col("cplcl")

    def fit(direction, y_var, own_cov, cross_cov, own_var):
        # own_cov: cov(own lag, y); cross_cov: cov(other lag, y);
        # own_var: var(own lag). b solves the 2x2 system with the own
        # lag first; beta_cross is the OTHER series' coefficient.
        other_var = F.col("vcl") if own_var == "vpl" else F.col("vpl")
        b_own = (
            F.col(own_cov) * other_var - F.col(cross_cov) * F.col("cplcl")
        ) / det
        b_cross = (
            F.col(cross_cov) * F.col(own_var) - F.col(own_cov) * F.col("cplcl")
        ) / det
        sse_u = (
            F.col(y_var) - b_own * F.col(own_cov) - b_cross * F.col(cross_cov)
        )
        sse_r = F.col(y_var) - F.col(own_cov) * F.col(own_cov) / F.col(own_var)
        return s.select(
            F.lit(direction).alias("direction"),
            F.col("n").cast("long").alias("n_obs"),
            F.round(b_cross + 1e-9, 6).alias("beta_cross"),
            F.round(
                (sse_r - sse_u) * (F.col("n") - 3) / sse_u + 1e-9, 6
            ).alias("f_stat"),
        )

    a = fit("click->purchase", "vpc", "cplpc", "cclpc", "vpl")
    b = fit("purchase->click", "vcc", "cclcc", "cplcc", "vcl")
    return a.unionByName(b).orderBy("direction")


@staged(
    "wasserstein_value_click_purchase",
    oracle="""
    WITH g AS (
      SELECT value AS v,
             sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               * 1.0 AS ca,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               * 1.0 AS cb
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY 1),
    tot AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM g),
    cum AS (
      SELECT v, ca, cb,
             sum(ca) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS bca,
             sum(cb) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS bcb
      FROM g)
    SELECT CAST(tot.na AS BIGINT) AS n_click,
           CAST(tot.nb AS BIGINT) AS n_purchase,
           round(sum(
             cum.v * (abs(coalesce(cum.bca, 0) / tot.na
                          - coalesce(cum.bcb, 0) / tot.nb)
                      - abs((coalesce(cum.bca, 0) + cum.ca) / tot.na
                            - (coalesce(cum.bcb, 0) + cum.cb) / tot.nb))
           ) + 1e-9, 6) AS wasserstein_1
    FROM cum CROSS JOIN tot
    GROUP BY tot.na, tot.nb
    """,
)
def wasserstein_value_click_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT 1-Wasserstein (earth-mover) distance between the click and
    purchase value distributions — the integral of |F_click - F_purch|
    over the value axis, telescoped so NO neighbor-gap lookup is
    needed: sum_j v_j * (|D_{j-1}| - |D_j|) with D the running ECDF
    difference, which only takes each row's own mass and the EXCLUSIVE
    cumulative counts. Completes the two-sample battery with the
    metric that reports the gap in VALUE UNITS (KS gives a
    probability, energy distance a squared blend; W1 is 'how many
    dollars apart the distributions sit').

    Scale shape: one groupBy(value), ONE distributed exclusive cumsum
    of two columns (``global_cumsum``), one scalar aggregate — the
    same one-cumsum closed form as the staged energy distance."""
    from ror_etl_spark.operators.util import global_cumsum

    e = Tables(spark, sf_dir).events.filter(
        F.col("event_type").isin("click", "purchase")
    )
    g = e.groupBy(F.col("value").alias("v")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("double")
        .alias("ca"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("double")
        .alias("cb"),
    ).localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
    r = global_cumsum(g, ["v"], ["ca", "cb"], out=["bca", "bcb"])
    tot = g.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    j = r.crossJoin(F.broadcast(tot))
    d_prev = F.abs(F.col("bca") / F.col("na") - F.col("bcb") / F.col("nb"))
    d_incl = F.abs(
        (F.col("bca") + F.col("ca")) / F.col("na")
        - (F.col("bcb") + F.col("cb")) / F.col("nb")
    )
    return j.agg(
        F.max("na").cast("long").alias("n_click"),
        F.max("nb").cast("long").alias("n_purchase"),
        F.round(F.sum(F.col("v") * (d_prev - d_incl)) + 1e-9, 6).alias(
            "wasserstein_1"
        ),
    )


@staged(
    "term_burstiness_topk",
    oracle="""
    WITH tc AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    dt AS (
      SELECT doc_id, tok, count(*) * 1.0 AS c FROM tc GROUP BY 1, 2),
    n AS (SELECT count(*) * 1.0 AS nd FROM documents),
    term AS (
      SELECT tok, sum(c) AS tf, count(*) AS df, sum(c * c) AS s2
      FROM dt GROUP BY tok HAVING count(*) >= 5),
    scored AS (
      SELECT tok, tf, df,
             round(tf / df + 1e-9, 6) AS katz_burstiness,
             round((s2 / n.nd - (tf / n.nd) * (tf / n.nd))
                   / (tf / n.nd) + 1e-9, 6) AS vmr
      FROM term CROSS JOIN n)
    SELECT tok, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
           katz_burstiness, vmr
    FROM scored
    ORDER BY vmr DESC, tok
    LIMIT 20
    """,
)
def term_burstiness_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness screen (Church-Gale): for each term with df >= 5,
    the variance-to-mean ratio of its per-document count (zeros
    included — computed closed-form from sum c, sum c^2, N) and the
    Katz burstiness tf/df (mean occurrences per CONTAINING doc). Terms
    with VMR >> 1 clump into few documents — content words and
    boilerplate markers — while function words sit near Poisson
    (VMR ~ 1); the top-20 list is the 'which terms are topical'
    diagnostic that raw tf ranking (registered text_term_frequency)
    buries under stopwords.

    Scale shape: explode -> (doc,term) count -> term-keyed aggregate;
    the all-doc variance needs NO dense doc x term matrix because the
    zero cells enter only through N. Top-20 on the ROUNDED score with
    a term tiebreak (round-before-rank)."""
    d = Tables(spark, sf_dir).documents
    dt = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    nd = d.count() * 1.0  # scalar; at scale a broadcast single-row agg
    term = dt.groupBy("tok").agg(
        F.sum("c").alias("tf"),
        F.count(F.lit(1)).alias("df"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    ).filter(F.col("df") >= 5)
    mean = F.col("tf") / F.lit(nd)
    scored = term.select(
        "tok",
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
        F.round(F.col("tf") / F.col("df") + 1e-9, 6).alias("katz_burstiness"),
        F.round(
            (F.col("s2") / F.lit(nd) - mean * mean) / mean + 1e-9, 6
        ).alias("vmr"),
    )
    return scored.orderBy(F.desc("vmr"), F.asc("tok")).limit(20)


_HC_ROUNDS = 6


def _harmonic_oracle() -> str:
    """Unrolled multi-source min-plus BFS on the sparsified trade graph
    (6 rounds >= graph diameter), then harmonic = sum 1/d over reached
    pairs."""
    ctes = [
        _TRADE_EDGE_CTES.strip(),
        "d0 AS (SELECT n AS s, n AS v, 0 AS d FROM deg)",
    ]
    for k in range(_HC_ROUNDS):
        ctes.append(
            f"""d{k + 1} AS (
      SELECT s, v, min(d) AS d FROM (
        SELECT s, v, d FROM d{k}
        UNION ALL
        SELECT d{k}.s, und.v, d{k}.d + 1
        FROM d{k} JOIN und ON und.u = d{k}.v) GROUP BY s, v)"""
        )
    final = f"d{_HC_ROUNDS}"
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CAST(s AS BIGINT) AS nationkey,
           CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_reached,
           round(sum(CASE WHEN d > 0 THEN 1.0 / d ELSE 0 END) + 1e-9, 6)
             AS harmonic
    FROM {final}
    GROUP BY s
    ORDER BY harmonic DESC, nationkey
    """
    )


@staged("harmonic_centrality_trade", oracle=_harmonic_oracle())
def harmonic_centrality_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic centrality of every nation in the sparsified trade
    graph: sum over other nations of 1/d(u,v), with unreachable pairs
    contributing zero (the property that makes harmonic the
    disconnected-safe replacement for closeness — the registered
    closeness op must special-case isolated nodes; harmonic doesn't).
    Computed by 6 unrolled synchronous min-plus rounds of multi-source
    BFS (6 >= the sparsified graph's diameter; a fixed-round kernel is
    the oracle-replayable form of iterate-to-convergence).

    Scale shape: state is (src, node, dist) — O(V^2) on this bounded
    graph; at 100 TB the same kernel runs per-source-batch (pick K
    sources per wave) so state stays K*V, the standard trick for
    all-sources distances on big graphs."""
    _, und, deg = _trade_edges(Tables(spark, sf_dir))
    dist = deg.select(
        F.col("n").alias("s"), F.col("n").alias("v"), F.lit(0).alias("d")
    ).localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
    hops = und.select(F.col("u"), F.col("v").alias("dst"))
    for _ in range(_HC_ROUNDS):
        hop = dist.join(hops, dist["v"] == hops["u"]).select(
            "s", F.col("dst").alias("v"), (F.col("d") + 1).alias("d")
        )
        dist = (
            dist.unionByName(hop)
            .groupBy("s", "v")
            .agg(F.min("d").alias("d"))
            .localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
        )
    out = dist.groupBy("s").agg(
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0)).cast("long").alias(
            "n_reached"
        ),
        F.round(
            F.sum(F.when(F.col("d") > 0, 1.0 / F.col("d")).otherwise(0.0))
            + 1e-9,
            6,
        ).alias("harmonic"),
    )
    return out.select(
        F.col("s").cast("long").alias("nationkey"), "n_reached", "harmonic"
    ).orderBy(F.desc("harmonic"), F.asc("nationkey"))


_SR_ITERS = 5
_SR_ROUND = 8


def _spectral_radius_oracle() -> str:
    """Unrolled power iteration x <- Ax / max(Ax) on the sparsified
    trade adjacency (ones start, 8-dp quantized trajectory), then the
    Rayleigh quotient x'Ax / x'x."""
    ctes = [
        _TRADE_EDGE_CTES.strip(),
        "x0 AS (SELECT n AS id, 1.0 AS x FROM deg)",
    ]
    for k in range(_SR_ITERS):
        ctes.append(
            f"""y{k} AS (
      SELECT und.v AS id, sum(x{k}.x) AS y
      FROM und JOIN x{k} ON x{k}.id = und.u
      GROUP BY und.v)"""
        )
        ctes.append(
            f"""x{k + 1} AS (
      SELECT deg.n AS id,
             round(coalesce(y{k}.y, 0.0)
                   / (SELECT max(y) FROM y{k}) + 1e-12, {_SR_ROUND}) AS x
      FROM deg LEFT JOIN y{k} ON y{k}.id = deg.n)"""
        )
    xf = f"x{_SR_ITERS}"
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f""",
    ax AS (
      SELECT und.v AS id, sum(b.x) AS ax
      FROM und JOIN {xf} b ON b.id = und.u
      GROUP BY und.v),
    ray AS (
      SELECT sum(a.x * coalesce(ax.ax, 0.0)) AS num, sum(a.x * a.x) AS den
      FROM {xf} a LEFT JOIN ax ON ax.id = a.id)
    SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
           CAST((SELECT count(*) FROM e0) AS BIGINT) AS n_edges,
           round(num / den + 1e-9, 6) AS spectral_radius_est
    FROM ray
    """
    )


@staged("spectral_radius_trade_graph", oracle=_spectral_radius_oracle())
def spectral_radius_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral radius (largest adjacency eigenvalue) of the sparsified
    trade graph via 5 quantized power-iteration rounds from the ones
    vector, reported as the Rayleigh quotient x'Ax/x'x of the final
    iterate. lambda_max bounds epidemic/cascade thresholds (spread
    dies iff beta/delta < 1/lambda_max) and average degree <=
    lambda_max <= max degree sanity-brackets it — the one-number
    'how explosive is this network' summary next to the registered
    PageRank/HITS scores.

    Scale shape: per round ONE edge-keyed shuffle (x flows along
    edges) and a scalar max; state is node-sized; the trajectory is
    8-dp quantized each round so DuckDB replays it bit-for-bit (the
    HITS/PCA discipline)."""
    e0, und, deg = _trade_edges(Tables(spark, sf_dir))
    x = deg.select(F.col("n").alias("id"), F.lit(1.0).alias("x"))
    for _ in range(_SR_ITERS):
        y = (
            und.join(x.withColumnRenamed("id", "u"), "u")
            .groupBy(F.col("v").alias("id"))
            .agg(F.sum("x").alias("y"))
        ).localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
        mx = y.agg(F.max("y").alias("m"))
        x = (
            deg.join(y, deg["n"] == y["id"], "left")
            .crossJoin(F.broadcast(mx))
            .select(
                deg["n"].alias("id"),
                F.round(
                    F.coalesce(F.col("y"), F.lit(0.0)) / F.col("m") + 1e-12,
                    _SR_ROUND,
                ).alias("x"),
            )
            .localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
        )
    ax = (
        und.join(x.withColumnRenamed("id", "u").withColumnRenamed("x", "bx"), "u")
        .groupBy(F.col("v").alias("id"))
        .agg(F.sum("bx").alias("ax"))
    )
    ray = x.join(ax, "id", "left").agg(
        F.sum(F.col("x") * F.coalesce(F.col("ax"), F.lit(0.0))).alias("num"),
        F.sum(F.col("x") * F.col("x")).alias("den"),
    )
    nn = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    ne = e0.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        ray.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(ne))
        .select(
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("n_edges").cast("long").alias("n_edges"),
            F.round(F.col("num") / F.col("den") + 1e-9, 6).alias(
                "spectral_radius_est"
            ),
        )
    )


@staged(
    "embedding_hubness_koccurrence",
    oracle="""
    WITH sub AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id % 2 = 0),
    pairs AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             round(list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v))) + 1e-9, 6)
               AS cos
      FROM sub a JOIN sub b ON a.vec_id <> b.vec_id),
    topk AS (
      SELECT ia, ib FROM (
        SELECT ia, ib,
               row_number() OVER (PARTITION BY ia
                                  ORDER BY cos DESC, ib) AS rn
        FROM pairs) WHERE rn <= 10),
    occ AS (
      SELECT sub.vec_id, coalesce(k.c, 0) * 1.0 AS nk
      FROM sub LEFT JOIN (
        SELECT ib, count(*) AS c FROM topk GROUP BY ib) k
      ON k.ib = sub.vec_id),
    mu AS (SELECT avg(nk) AS m, count(*) AS n FROM occ),
    cm AS (
      SELECT max(mu.n) AS n,
             sum((o.nk - mu.m) * (o.nk - mu.m)) / max(mu.n) AS m2,
             sum((o.nk - mu.m) * (o.nk - mu.m) * (o.nk - mu.m)) / max(mu.n)
               AS m3
      FROM occ o CROSS JOIN mu),
    ext AS (
      SELECT max(nk) AS mx,
             sum(CASE WHEN nk = 0 THEN 1 ELSE 0 END) AS anti,
             sum(CASE WHEN nk >= 20 THEN 1 ELSE 0 END) AS hubs
      FROM occ)
    SELECT CAST(cm.n AS BIGINT) AS n_vectors,
           CAST(ext.mx AS BIGINT) AS max_k_occ,
           CAST(ext.anti AS BIGINT) AS n_antihubs,
           CAST(ext.hubs AS BIGINT) AS n_hubs,
           round(cm.m3 / (cm.m2 ^ 1.5) + 1e-9, 6) AS skewness_k_occ
    FROM cm CROSS JOIN ext
    """,
)
def embedding_hubness_koccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubness of the embedding space: the k-occurrence distribution
    N_10(x) = how often x appears in other points' cosine top-10, on
    the deterministic even-vec_id half of the corpus. High positive
    skewness means a few 'hub' vectors dominate everyone's neighbor
    lists — the high-dimensional pathology that silently corrupts
    kNN-based dedup/retrieval (SemDeDup, ANN recall) long before
    recall metrics notice. Reports skewness, max N_10, anti-hub count
    (never retrieved) and hub count (N_10 >= 2k).

    Scale shape: this instance runs the exact brute pair join on the
    bounded subsample (the all_pairs_above baseline posture); at 100 TB
    the SAME k-occurrence aggregate consumes the registered LSH/IVF
    top-k pairs instead — hubness is a one-groupBy postprocess of
    whatever neighbor lists the index already produces. Ranks use
    round-before-rank with a vec_id tiebreak."""
    from ror_etl_spark.functions.vectors import as_double, cosine

    emb = Tables(spark, sf_dir).embeddings.filter(F.col("vec_id") % 2 == 0)
    # repartition BEFORE the non-equi join: the BroadcastNestedLoopJoin
    # parallelizes over the STREAM side's partitions, and the
    # checkpointed subsample otherwise collapses to one parquet split —
    # a single task grinding |sub|^2 pairs (caught live by the emb10x
    # tier run: 625M pairs on one core).
    sub = (
        emb.select("vec_id", as_double(F.col("embedding")).alias("v"))
        .repartition(32, "vec_id")
        .localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
    )
    a = sub.select(F.col("vec_id").alias("ia"), F.col("v").alias("va"))
    b = sub.select(F.col("vec_id").alias("ib"), F.col("v").alias("vb"))
    pairs = a.join(b, F.col("ia") != F.col("ib")).select(
        "ia",
        "ib",
        F.round(cosine(F.col("va"), F.col("vb")) + 1e-9, 6).alias("cos"),
    )
    wk = Window.partitionBy("ia").orderBy(F.desc("cos"), F.asc("ib"))
    topk = (
        pairs.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= 10)
        .select("ia", "ib")
    )
    kcnt = topk.groupBy("ib").agg(F.count(F.lit(1)).alias("c"))
    occ = sub.join(kcnt, sub["vec_id"] == kcnt["ib"], "left").select(
        "vec_id", F.coalesce(F.col("c"), F.lit(0)).cast("double").alias("nk")
    ).localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
    mu = occ.agg(F.avg("nk").alias("m"), F.count(F.lit(1)).alias("n"))
    cm = occ.crossJoin(F.broadcast(mu)).agg(
        F.max("n").alias("n"),
        (F.sum((F.col("nk") - F.col("m")) * (F.col("nk") - F.col("m"))) / F.max("n")).alias("m2"),
        (
            F.sum(
                (F.col("nk") - F.col("m"))
                * (F.col("nk") - F.col("m"))
                * (F.col("nk") - F.col("m"))
            )
            / F.max("n")
        ).alias("m3"),
    )
    ext = occ.agg(
        F.max("nk").alias("mx"),
        F.sum(F.when(F.col("nk") == 0, 1).otherwise(0)).alias("anti"),
        F.sum(F.when(F.col("nk") >= 20, 1).otherwise(0)).alias("hubs"),
    )
    return cm.crossJoin(F.broadcast(ext)).select(
        F.col("n").cast("long").alias("n_vectors"),
        F.col("mx").cast("long").alias("max_k_occ"),
        F.col("anti").cast("long").alias("n_antihubs"),
        F.col("hubs").cast("long").alias("n_hubs"),
        F.round(F.col("m3") / F.pow(F.col("m2"), 1.5) + 1e-9, 6).alias(
            "skewness_k_occ"
        ),
    )


_HOLT_ALPHA = 0.3
_HOLT_BETA = 0.1


def _qr_sql(x: str) -> str:
    """The engine-portable 6-dp quantizer: identical IEEE ops on both
    sides (shift, scale, floor, unscale — NOT the engine's round(),
    whose tie rule differs from Python's)."""
    return (
        f"CASE WHEN ({x}) + 1e-9 >= 0 THEN"
        f" floor((({x}) + 1e-9) * 1000000.0 + 0.5) / 1000000.0"
        f" ELSE -floor(-(({x}) + 1e-9) * 1000000.0 + 0.5) / 1000000.0 END"
    )


def _holt_oracle() -> str:
    a, b = _HOLT_ALPHA, _HOLT_BETA
    newl = _qr_sql(f"{a} * rn.y + {1 - a} * (st.l + st.b)")
    return f"""
    WITH RECURSIVE {_DAILY_SQL},
    rn AS (SELECT row_number() OVER (ORDER BY t) AS k, y FROM daily),
    st (k, l, b, sse) AS (
      SELECT CAST(1 AS BIGINT),
             CAST((SELECT y FROM rn WHERE k = 1) AS DOUBLE),
             CAST({_qr_sql("coalesce((SELECT y FROM rn WHERE k = 2) - (SELECT y FROM rn WHERE k = 1), 0.0)")} AS DOUBLE),
             CAST(0.0 AS DOUBLE)
      UNION ALL
      SELECT rn.k,
             {newl},
             {_qr_sql(f"{b} * (({newl}) - st.l) + {1 - b} * st.b")},
             {_qr_sql("st.sse + (rn.y - (st.l + st.b)) * (rn.y - (st.l + st.b))")}
      FROM st JOIN rn ON rn.k = st.k + 1)
    SELECT CAST(k AS BIGINT) AS n_days,
           l AS level, b AS trend,
           {_qr_sql("st.l + st.b")} AS forecast_1,
           {_qr_sql("st.l + 7.0 * st.b")} AS forecast_7,
           sse AS sse_1step
    FROM st WHERE k = (SELECT max(k) FROM rn)
    """


@staged("holt_linear_daily_revenue", oracle=_holt_oracle())
def holt_linear_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential (level+trend) smoothing of daily purchase
    revenue, alpha=0.3 / beta=0.1, init l=y1, b=y2-y1: final state,
    1- and 7-step-ahead forecasts, and the accumulated one-step SSE.
    Completes the forecasting closures (EWMA = level-only, AR(1) =
    stationary, seasonal-naive = pure season) with the trending one.

    The recurrence is inherently sequential over the BOUNDED daily
    frame (<= ~366 rows at any SF — the calendar, not the data, sets
    its size), so it runs as one Arrow kernel on the coalesced frame
    (the adaptive-rollup single-task posture: an executor task, never
    the driver); every step is quantized with the engine-portable
    floor-based 6-dp rule so DuckDB's recursive CTE replays the exact
    trajectory. At 100 TB only the day-keyed pre-aggregate sees data."""
    d = _daily_df(spark, sf_dir)
    a_, b_ = _HOLT_ALPHA, _HOLT_BETA

    def q(x: float) -> float:
        import math

        v = x + 1e-9
        if v >= 0:
            return math.floor(v * 1000000.0 + 0.5) / 1000000.0
        return -math.floor(-v * 1000000.0 + 0.5) / 1000000.0

    def kernel(batches):
        import pandas as pd

        rows = pd.concat(list(batches), ignore_index=True)
        rows = rows.sort_values("t")
        ys = rows["y"].tolist()
        n = len(ys)
        level = ys[0]
        trend = q(ys[1] - ys[0]) if n >= 2 else 0.0
        sse = 0.0
        for y in ys[1:]:
            e = y - (level + trend)
            sse = q(sse + e * e)
            prev_l = level
            level = q(a_ * y + (1 - a_) * (prev_l + trend))
            trend = q(b_ * (level - prev_l) + (1 - b_) * trend)
        yield pd.DataFrame(
            {
                "n_days": pd.Series([n], dtype="int64"),
                "level": [level],
                "trend": [trend],
                "forecast_1": [q(level + trend)],
                "forecast_7": [q(level + 7.0 * trend)],
                "sse_1step": [sse],
            }
        )

    schema = (
        "n_days long, level double, trend double, forecast_1 double,"
        " forecast_7 double, sse_1step double"
    )
    return d.coalesce(1).mapInPandas(kernel, schema=schema)


# ---------------------------------------------------------------------------
# Wave 10: regularized/robust regression, forecast quantile loss, EM,
# absorption times, embedding effective rank, RAKE keyphrases
# ---------------------------------------------------------------------------

_DAILY_LOGLOG_SQL = """daily AS (
      SELECT l_shipdate AS dt, ln(sum(l_quantity)) AS lq,
             ln(avg(l_extendedprice)) AS lp
      FROM lineitem GROUP BY 1),
    mu AS (SELECT avg(lp) AS mx, avg(lq) AS my, count(*) AS n FROM daily),
    s AS (
      SELECT max(mu.n) AS n, max(mu.mx) AS mx, max(mu.my) AS my,
             sum((lp - mu.mx) * (lp - mu.mx)) AS sxx,
             sum((lp - mu.mx) * (lq - mu.my)) AS sxy,
             sum((lq - mu.my) * (lq - mu.my)) AS syy
      FROM daily CROSS JOIN mu)"""


@staged(
    "ridge_elasticity_qty_price",
    oracle=f"""
    WITH {_DAILY_LOGLOG_SQL},
    lam AS (SELECT unnest([0.0, 0.05, 0.5]) AS lambda)
    SELECT lam.lambda AS lambda,
           CAST(s.n AS BIGINT) AS n_days,
           round(s.sxy / (s.sxx + lam.lambda) + 1e-9, 6) AS slope,
           round(s.my - (s.sxy / (s.sxx + lam.lambda)) * s.mx + 1e-9, 6)
             AS intercept,
           round((s.sxy / (s.sxx + lam.lambda)) / (s.sxy / s.sxx) + 1e-9, 6)
             AS shrinkage
    FROM lam CROSS JOIN s
    ORDER BY lambda
    """,
)
def ridge_elasticity_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ridge-regularized price elasticity on the registered log-log
    daily frame, lambda ladder {0, 0.05, 0.5} (lambda = 0 pins the
    ladder to the registered OLS op): with centered data and an
    unpenalized intercept the closed form is beta = Sxy/(Sxx+lambda),
    so the whole regularization path costs ONE moment aggregate + a
    3-literal explode. The bias-variance knob every forecasting
    pipeline turns when the daily frame is short.

    Scale shape: one date-keyed aggregate, one scalar moment aggregate,
    a bounded literal cross join — no per-lambda data pass."""
    li = Tables(spark, sf_dir).lineitem
    daily = li.groupBy(F.col("l_shipdate").alias("dt")).agg(
        F.log(F.sum("l_quantity")).alias("lq"),
        F.log(F.avg("l_extendedprice")).alias("lp"),
    )
    mu = daily.agg(
        F.avg("lp").alias("mx"), F.avg("lq").alias("my"), F.count(F.lit(1)).alias("n")
    )
    s = daily.crossJoin(F.broadcast(mu)).agg(
        F.max("n").alias("n"),
        F.max("mx").alias("mx"),
        F.max("my").alias("my"),
        F.sum((F.col("lp") - F.col("mx")) * (F.col("lp") - F.col("mx"))).alias("sxx"),
        F.sum((F.col("lp") - F.col("mx")) * (F.col("lq") - F.col("my"))).alias("sxy"),
        F.sum((F.col("lq") - F.col("my")) * (F.col("lq") - F.col("my"))).alias("syy"),
    )
    lam = s.select(
        F.explode(F.array(F.lit(0.0), F.lit(0.05), F.lit(0.5))).alias("lambda"),
        "n", "mx", "my", "sxx", "sxy",
    )
    beta = F.col("sxy") / (F.col("sxx") + F.col("lambda"))
    return lam.select(
        F.col("lambda"),
        F.col("n").cast("long").alias("n_days"),
        F.round(beta + 1e-9, 6).alias("slope"),
        F.round(F.col("my") - beta * F.col("mx") + 1e-9, 6).alias("intercept"),
        F.round(beta / (F.col("sxy") / F.col("sxx")) + 1e-9, 6).alias(
            "shrinkage"
        ),
    ).orderBy("lambda")


_HUBER_K = 1.345
_HUBER_ROUNDS = 2
_HUBER_Q = 8


def _huber_oracle() -> str:
    """Unrolled 2-round Huber IRLS replay: OLS start (slope/intercept/
    scale quantized 8 dp), then per round Huber weights w = min(1,
    k*s/|resid|) and a weighted least-squares refit, re-quantized."""
    rounds = []
    prev = "f0"
    rounds.append(
        f"""f0 AS (
      SELECT round(sxy / sxx + 1e-12, {_HUBER_Q}) AS b,
             round(my - (sxy / sxx) * mx + 1e-12, {_HUBER_Q}) AS a,
             round(sqrt((syy - (sxy / sxx) * sxy) / (n - 2)) + 1e-12,
                   {_HUBER_Q}) AS s
      FROM s)"""
    )
    for r in range(_HUBER_ROUNDS):
        rounds.append(
            f"""w{r} AS (
      SELECT d.lp, d.lq,
             CASE WHEN abs(d.lq - ({prev}.a + {prev}.b * d.lp)) < 1e-12
                  THEN 1.0
                  ELSE least(1.0, {_HUBER_K} * {prev}.s
                             / abs(d.lq - ({prev}.a + {prev}.b * d.lp)))
             END AS w,
             {prev}.s AS s
      FROM daily d CROSS JOIN {prev})"""
        )
        rounds.append(
            f"""f{r + 1} AS (
      SELECT round((sum(w) * sum(w * lp * lq) - sum(w * lp) * sum(w * lq))
                   / (sum(w) * sum(w * lp * lp) - sum(w * lp) * sum(w * lp))
                   + 1e-12, {_HUBER_Q}) AS b,
             round((sum(w * lq)
                    - ((sum(w) * sum(w * lp * lq) - sum(w * lp) * sum(w * lq))
                       / (sum(w) * sum(w * lp * lp)
                          - sum(w * lp) * sum(w * lp))) * sum(w * lp))
                   / sum(w) + 1e-12, {_HUBER_Q}) AS a,
             max(s) AS s
      FROM w{r})"""
        )
        prev = f"f{r + 1}"
    return (
        f"WITH {_DAILY_LOGLOG_SQL},\n    "
        + ",\n    ".join(rounds)
        + f"""
    SELECT CAST(s2.n AS BIGINT) AS n_days,
           round(s2.sxy / s2.sxx + 1e-9, 6) AS slope_ols,
           round({prev}.b + 1e-9, 6) AS slope_huber,
           round({prev}.a + 1e-9, 6) AS intercept_huber,
           CAST((SELECT sum(CASE WHEN w < 1.0 THEN 1 ELSE 0 END)
                 FROM w{_HUBER_ROUNDS - 1}) AS BIGINT) AS n_downweighted,
           round((SELECT min(w) FROM w{_HUBER_ROUNDS - 1}) + 1e-9, 6)
             AS min_weight
    FROM {prev} CROSS JOIN s s2
    """
    )


@staged("huber_irls_elasticity", oracle=_huber_oracle())
def huber_irls_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Huber-robust price elasticity: 2 IRLS rounds from the OLS start
    on the registered log-log daily frame, weights w = min(1,
    1.345*s/|resid|) with the OLS residual scale held fixed (the
    textbook one-scale simplification, quantized so both engines walk
    the same trajectory). Where the registered Theil-Sen op is the
    rank-robust slope, Huber is the efficiency-preserving one — and
    n_downweighted names exactly which days the OLS fit was letting
    outvote the rest.

    Scale shape: the daily frame is bounded; each IRLS round is one
    weighted-moment aggregate + a broadcast scalar re-join. At 100 TB
    the only data-sized pass remains the first date-keyed groupBy."""
    li = Tables(spark, sf_dir).lineitem
    daily = li.groupBy(F.col("l_shipdate").alias("dt")).agg(
        F.log(F.sum("l_quantity")).alias("lq"),
        F.log(F.avg("l_extendedprice")).alias("lp"),
    ).localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
    mu = daily.agg(
        F.avg("lp").alias("mx"), F.avg("lq").alias("my"), F.count(F.lit(1)).alias("n")
    )
    s = daily.crossJoin(F.broadcast(mu)).agg(
        F.max("n").alias("n"),
        F.max("mx").alias("mx"),
        F.max("my").alias("my"),
        F.sum((F.col("lp") - F.col("mx")) * (F.col("lp") - F.col("mx"))).alias("sxx"),
        F.sum((F.col("lp") - F.col("mx")) * (F.col("lq") - F.col("my"))).alias("sxy"),
        F.sum((F.col("lq") - F.col("my")) * (F.col("lq") - F.col("my"))).alias("syy"),
    ).localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
    b_ols = F.col("sxy") / F.col("sxx")
    fit = s.select(
        F.round(b_ols + 1e-12, _HUBER_Q).alias("b"),
        F.round(F.col("my") - b_ols * F.col("mx") + 1e-12, _HUBER_Q).alias("a"),
        F.round(
            F.sqrt((F.col("syy") - b_ols * F.col("sxy")) / (F.col("n") - 2))
            + 1e-12,
            _HUBER_Q,
        ).alias("s"),
    )
    wdf = None
    for _ in range(_HUBER_ROUNDS):
        resid = F.abs(F.col("lq") - (F.col("a") + F.col("b") * F.col("lp")))
        wdf = daily.crossJoin(F.broadcast(fit)).select(
            "lp",
            "lq",
            F.when(resid < 1e-12, 1.0)
            .otherwise(F.least(F.lit(1.0), _HUBER_K * F.col("s") / resid))
            .alias("w"),
            F.col("s"),
        )
        num = F.sum("w") * F.sum(F.col("w") * F.col("lp") * F.col("lq")) - F.sum(
            F.col("w") * F.col("lp")
        ) * F.sum(F.col("w") * F.col("lq"))
        den = F.sum("w") * F.sum(F.col("w") * F.col("lp") * F.col("lp")) - F.sum(
            F.col("w") * F.col("lp")
        ) * F.sum(F.col("w") * F.col("lp"))
        fit = wdf.agg(
            F.round(num / den + 1e-12, _HUBER_Q).alias("b"),
            F.round(
                (F.sum(F.col("w") * F.col("lq")) - (num / den) * F.sum(F.col("w") * F.col("lp")))
                / F.sum("w")
                + 1e-12,
                _HUBER_Q,
            ).alias("a"),
            F.max("s").alias("s"),
        ).localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
    wstats = wdf.agg(
        F.sum(F.when(F.col("w") < 1.0, 1).otherwise(0)).alias("ndw"),
        F.min("w").alias("minw"),
    )
    return (
        fit.crossJoin(F.broadcast(s))
        .crossJoin(F.broadcast(wstats))
        .select(
            F.col("n").cast("long").alias("n_days"),
            F.round(F.col("sxy") / F.col("sxx") + 1e-9, 6).alias("slope_ols"),
            F.round(F.col("b") + 1e-9, 6).alias("slope_huber"),
            F.round(F.col("a") + 1e-9, 6).alias("intercept_huber"),
            F.col("ndw").cast("long").alias("n_downweighted"),
            F.round(F.col("minw") + 1e-9, 6).alias("min_weight"),
        )
    )


@staged(
    "pinball_loss_forecast_daily",
    oracle=f"""
    WITH {_DAILY_SQL},
    rn AS (SELECT row_number() OVER (ORDER BY t) AS k, t, y FROM daily),
    naive AS (
      SELECT a.y AS actual, b.y AS fc FROM rn a JOIN rn b ON b.k = a.k - 1),
    snaive AS (
      SELECT a.y AS actual, b.y AS fc
      FROM daily a JOIN daily b ON b.t = a.t - 7),
    preds AS (
      SELECT 'naive_lag1' AS method, actual, fc FROM naive
      UNION ALL SELECT 'seasonal_naive_lag7', actual, fc FROM snaive),
    taus AS (SELECT unnest([0.5, 0.9]) AS tau)
    SELECT preds.method, taus.tau AS tau,
           CAST(count(*) AS BIGINT) AS n_obs,
           round(avg(taus.tau * greatest(actual - fc, 0)
                     + (1 - taus.tau) * greatest(fc - actual, 0))
                 + 1e-9, 6) AS pinball
    FROM preds CROSS JOIN taus
    GROUP BY 1, 2 ORDER BY method, tau
    """,
)
def pinball_loss_forecast_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinball (quantile) loss of the two parameter-free forecasters on
    daily purchase revenue — naive (yesterday) and seasonal-naive
    (same weekday last week, calendar-joined so gaps don't slip the
    season) — at tau = 0.5 and 0.9. The quantile counterpart of the
    staged Theil's U RMSE skill score: a forecaster can win on RMSE
    and still be unusable for the P90 capacity question this loss
    prices directly.

    Scale shape: everything after the day-keyed reduce is bounded; the
    seasonal pairing is an equi-join on t-7, never a window scan."""
    d = _daily_df(spark, sf_dir).localCheckpoint(
        eager=False, storageLevel=_DISK_ONLY
    )
    w = Window.orderBy("t")
    naive = (
        d.select("t", "y", F.lag("y").over(w).alias("fc"))
        .filter(F.col("fc").isNotNull())
        .select(F.lit("naive_lag1").alias("method"), F.col("y").alias("actual"), "fc")
    )
    b7 = d.select((F.col("t") + 7).alias("t"), F.col("y").alias("fc"))
    snaive = d.join(b7, "t").select(
        F.lit("seasonal_naive_lag7").alias("method"),
        F.col("y").alias("actual"),
        "fc",
    )
    both = naive.unionByName(snaive)
    taus = both.crossJoin(
        F.broadcast(
            both.sparkSession.range(1).select(
                F.explode(F.array(F.lit(0.5), F.lit(0.9))).alias("tau")
            )
        )
    )
    loss = F.col("tau") * F.greatest(
        F.col("actual") - F.col("fc"), F.lit(0.0)
    ) + (1 - F.col("tau")) * F.greatest(F.col("fc") - F.col("actual"), F.lit(0.0))
    return (
        taus.groupBy("method", "tau")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_obs"),
            F.round(F.avg(loss) + 1e-9, 6).alias("pinball"),
        )
        .orderBy("method", "tau")
    )


_EM_ROUNDS = 3
_EM_Q = 8


def _gmm_oracle() -> str:
    """Replay of the 3-round two-component 1-D Gaussian EM on purchase
    values: exact order-statistic init (p25/p75 means, pooled variance,
    pi = 0.5), per round the E-step responsibilities and one-pass
    M-step moments, every parameter quantized to 8 dp."""
    ctes = [
        """pv AS (SELECT value AS x FROM events
                  WHERE event_type = 'purchase')""",
        f"""p0 AS (
      SELECT 0.5 AS pi,
             round(percentile_disc(0.25) WITHIN GROUP (ORDER BY x)
                   + 1e-12, {_EM_Q}) AS m1,
             round(var_pop(x) + 1e-12, {_EM_Q}) AS v1,
             round(percentile_disc(0.75) WITHIN GROUP (ORDER BY x)
                   + 1e-12, {_EM_Q}) AS m2,
             round(var_pop(x) + 1e-12, {_EM_Q}) AS v2,
             count(*) AS n
      FROM pv)""",
    ]
    for k in range(_EM_ROUNDS):
        ctes.append(
            f"""r{k} AS (
      SELECT pv.x,
             (p{k}.pi * exp(-(pv.x - p{k}.m1) * (pv.x - p{k}.m1)
                            / (2 * p{k}.v1)) / sqrt(p{k}.v1))
             / ((p{k}.pi * exp(-(pv.x - p{k}.m1) * (pv.x - p{k}.m1)
                               / (2 * p{k}.v1)) / sqrt(p{k}.v1))
                + ((1 - p{k}.pi) * exp(-(pv.x - p{k}.m2) * (pv.x - p{k}.m2)
                                       / (2 * p{k}.v2)) / sqrt(p{k}.v2)))
               AS resp
      FROM pv CROSS JOIN p{k})""",
        )
        ctes.append(
            f"""p{k + 1} AS (
      SELECT round(sum(resp) / count(*) + 1e-12, {_EM_Q}) AS pi,
             round(sum(resp * x) / sum(resp) + 1e-12, {_EM_Q}) AS m1,
             round(sum(resp * x * x) / sum(resp)
                   - (sum(resp * x) / sum(resp))
                     * (sum(resp * x) / sum(resp)) + 1e-12, {_EM_Q}) AS v1,
             round(sum((1 - resp) * x) / sum(1 - resp) + 1e-12, {_EM_Q})
               AS m2,
             round(sum((1 - resp) * x * x) / sum(1 - resp)
                   - (sum((1 - resp) * x) / sum(1 - resp))
                     * (sum((1 - resp) * x) / sum(1 - resp)) + 1e-12,
                   {_EM_Q}) AS v2,
             count(*) AS n
      FROM r{k})""",
        )
    sel = " UNION ALL ".join(
        f"SELECT CAST({k + 1} AS BIGINT) AS round, pi AS pi1, m1 AS mu1, "
        f"v1 AS var1, m2 AS mu2, v2 AS var2 FROM p{k + 1}"
        for k in range(_EM_ROUNDS)
    )
    return (
        "WITH " + ",\n    ".join(ctes) + f"\n    {sel} ORDER BY round"
    )


@staged("gaussian_mixture_em_value", oracle=_gmm_oracle())
def gaussian_mixture_em_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-component 1-D Gaussian mixture fitted to purchase values by
    3 synchronous EM rounds — deterministic init from exact order
    statistics (component means at p25/p75, pooled variance, pi=0.5),
    each round's five parameters quantized to 8 dp so DuckDB replays
    the identical trajectory (the power-iteration discipline applied
    to EM). The mixture-model primitive behind soft user segmentation
    and heavy-tail/body decomposition; emits the full 3-round
    trajectory, so convergence is part of the checked evidence.

    Scale shape: per round ONE pass over the fact rows (E-step
    responsibilities inline in the M-step aggregate, no materialized
    assignment) and a 1-row broadcast parameter frame — the textbook
    distributed-EM layout."""
    e = Tables(spark, sf_dir).events.filter(
        F.col("event_type") == "purchase"
    ).select(F.col("value").alias("x")).localCheckpoint(
        eager=False, storageLevel=_DISK_ONLY
    )
    p = e.agg(
        F.lit(0.5).alias("pi"),
        F.round(
            F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY x)") + 1e-12,
            _EM_Q,
        ).alias("m1"),
        F.round(F.var_pop("x") + 1e-12, _EM_Q).alias("v1"),
        F.round(
            F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY x)") + 1e-12,
            _EM_Q,
        ).alias("m2"),
        F.round(F.var_pop("x") + 1e-12, _EM_Q).alias("v2"),
    )
    traj = []
    for k in range(_EM_ROUNDS):
        j = e.crossJoin(F.broadcast(p))
        d1 = (F.col("x") - F.col("m1")) * (F.col("x") - F.col("m1"))
        d2 = (F.col("x") - F.col("m2")) * (F.col("x") - F.col("m2"))
        p1 = F.col("pi") * F.exp(-d1 / (2 * F.col("v1"))) / F.sqrt("v1")
        p2 = (1 - F.col("pi")) * F.exp(-d2 / (2 * F.col("v2"))) / F.sqrt("v2")
        r = (p1 / (p1 + p2)).alias("resp")
        rx = j.select("x", r)
        m1n = F.sum(F.col("resp") * F.col("x")) / F.sum("resp")
        m2n = F.sum((1 - F.col("resp")) * F.col("x")) / F.sum(1 - F.col("resp"))
        p = rx.agg(
            F.round(F.sum("resp") / F.count(F.lit(1)) + 1e-12, _EM_Q).alias("pi"),
            F.round(m1n + 1e-12, _EM_Q).alias("m1"),
            F.round(
                F.sum(F.col("resp") * F.col("x") * F.col("x")) / F.sum("resp")
                - m1n * m1n
                + 1e-12,
                _EM_Q,
            ).alias("v1"),
            F.round(m2n + 1e-12, _EM_Q).alias("m2"),
            F.round(
                F.sum((1 - F.col("resp")) * F.col("x") * F.col("x"))
                / F.sum(1 - F.col("resp"))
                - m2n * m2n
                + 1e-12,
                _EM_Q,
            ).alias("v2"),
        ).localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
        traj.append(
            p.select(
                F.lit(k + 1).cast("long").alias("round"),
                F.col("pi").alias("pi1"),
                F.col("m1").alias("mu1"),
                F.col("v1").alias("var1"),
                F.col("m2").alias("mu2"),
                F.col("v2").alias("var2"),
            )
        )
    out = traj[0]
    for t in traj[1:]:
        out = out.unionByName(t)
    return out.orderBy("round")


_ABS_ROUNDS = 12
_ABS_Q = 8


def _absorption_oracle() -> str:
    """Unrolled fixed-point iteration t <- 1 + Q t (12 rounds, 8-dp
    quantized) for expected steps to purchase-absorption, Q estimated
    from the (ts, event_id)-ordered per-user transitions."""
    ctes = [
        """seq AS (
      SELECT event_type AS t,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS nxt
      FROM events)""",
        """c AS (
      SELECT t, nxt, count(*) AS cnt FROM seq
      WHERE nxt IS NOT NULL AND t <> 'purchase' GROUP BY t, nxt)""",
        """tot AS (SELECT t, CAST(sum(cnt) AS DOUBLE) AS nt
                   FROM c GROUP BY t)""",
        """q AS (
      SELECT c.t, c.nxt, c.cnt / tot.nt AS p FROM c JOIN tot USING (t)
      WHERE c.nxt <> 'purchase')""",
        "t0 AS (SELECT t, CAST(0.0 AS DOUBLE) AS tv FROM tot)",
    ]
    for k in range(_ABS_ROUNDS):
        ctes.append(
            f"""t{k + 1} AS (
      SELECT tot.t,
             round(1.0 + coalesce(f.fl, 0.0) + 1e-12, {_ABS_Q}) AS tv
      FROM tot LEFT JOIN (
        SELECT q.t, sum(q.p * t{k}.tv) AS fl
        FROM q JOIN t{k} ON t{k}.t = q.nxt GROUP BY q.t) f
      ON f.t = tot.t)"""
        )
    final = f"t{_ABS_ROUNDS}"
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT {final}.t AS from_type,
           round(coalesce(pa.p, 0.0) + 1e-9, 6) AS p_purchase_next,
           round({final}.tv + 1e-9, 6) AS expected_steps
    FROM {final} LEFT JOIN (
      SELECT c.t, c.cnt / tot.nt AS p FROM c JOIN tot USING (t)
      WHERE c.nxt = 'purchase') pa ON pa.t = {final}.t
    ORDER BY from_type
    """
    )


@staged("markov_absorption_time_purchase", oracle=_absorption_oracle())
def markov_absorption_time_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Expected number of events until the next purchase, per current
    event type, treating purchase as the absorbing state of the
    first-order user-journey Markov chain (same transition estimate
    as the registered ``markov_event_transitions``): 12 quantized
    fixed-point rounds of t <- 1 + Q t (the Neumann series for
    (I-Q)^-1 1 — a matrix inverse expressed as the same iterate-and-
    quantize kernel as PageRank/HITS/PPR). The 'how far is each state
    from conversion' number attribution models start from.

    Scale shape: ONE user-partitioned window pass over the fact table,
    then every round is a join of two <= k-row frames (k = event-type
    domain). At 100 TB the chain solve is free; only the transition
    count sees data."""
    e = Tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("t"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull() & (F.col("t") != "purchase"))
    c = seq.groupBy("t", "nxt").agg(F.count(F.lit(1)).alias("cnt")).localCheckpoint(
        eager=False, storageLevel=_DISK_ONLY
    )
    tot = c.groupBy("t").agg(F.sum("cnt").cast("double").alias("nt")).localCheckpoint(
        eager=False, storageLevel=_DISK_ONLY
    )
    q = (
        c.join(tot, "t")
        .filter(F.col("nxt") != "purchase")
        .select("t", "nxt", (F.col("cnt") / F.col("nt")).alias("p"))
    )
    tv = tot.select("t", F.lit(0.0).alias("tv"))
    for _ in range(_ABS_ROUNDS):
        fl = (
            q.join(tv.withColumnRenamed("t", "nxt"), "nxt")
            .groupBy("t")
            .agg(F.sum(F.col("p") * F.col("tv")).alias("fl"))
        )
        tv = (
            tot.join(fl, "t", "left")
            .select(
                "t",
                F.round(
                    1.0 + F.coalesce(F.col("fl"), F.lit(0.0)) + 1e-12, _ABS_Q
                ).alias("tv"),
            )
            .localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
        )
    pa = (
        c.join(tot, "t")
        .filter(F.col("nxt") == "purchase")
        .select("t", (F.col("cnt") / F.col("nt")).alias("p"))
    )
    return (
        tv.join(pa, "t", "left")
        .select(
            F.col("t").alias("from_type"),
            F.round(F.coalesce(F.col("p"), F.lit(0.0)) + 1e-9, 6).alias(
                "p_purchase_next"
            ),
            F.round(F.col("tv") + 1e-9, 6).alias("expected_steps"),
        )
        .orderBy("from_type")
    )


@staged(
    "embedding_participation_ratio",
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    ex AS (
      SELECT vec_id, idx.i AS i, v[idx.i] AS val
      FROM e, (SELECT unnest(range(1, 65)) AS i) idx),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM e),
    m AS (SELECT i, sum(val) / max(n.n) AS mi FROM ex CROSS JOIN n GROUP BY i),
    s AS (
      SELECT a.i AS i, b.i AS j, sum(a.val * b.val) AS sij
      FROM ex a JOIN ex b USING (vec_id) GROUP BY a.i, b.i),
    c AS (
      SELECT s.i, s.j, s.sij / n.n - ma.mi * mb.mi AS cij
      FROM s CROSS JOIN n
      JOIN m ma ON ma.i = s.i JOIN m mb ON mb.i = s.j),
    agg AS (
      SELECT sum(CASE WHEN i = j THEN cij ELSE 0 END) AS tr,
             sum(cij * cij) AS frob
      FROM c)
    SELECT CAST(n.n AS BIGINT) AS n_vectors,
           CAST(64 AS BIGINT) AS dim,
           round(agg.tr + 1e-9, 6) AS trace_cov,
           round(agg.frob + 1e-9, 8) AS frob_norm_sq,
           round(agg.tr * agg.tr / agg.frob + 1e-9, 4)
             AS participation_ratio,
           round(agg.tr * agg.tr / agg.frob / 64 + 1e-9, 4) AS pr_fraction
    FROM agg CROSS JOIN n
    """,
)
def embedding_participation_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Participation ratio (effective dimensionality) of the embedding
    covariance: PR = (tr C)^2 / ||C||_F^2 = (sum lambda)^2 / sum
    lambda^2 — the eigenvalue-free effective-rank measure (equals d
    for isotropic spectra, 1 when one direction dominates), computed
    WITHOUT an eigendecomposition because trace and Frobenius norm
    are basis-free. Complements the staged top-PC power iteration
    (which finds the dominant direction) and the registered isotropy
    stats (mean-direction bias) with 'how many directions carry real
    variance' — the dimension-collapse alarm for learned embeddings.

    Scale shape: mean vector from one dim-keyed aggregate; second
    moments from ONE vec_id-equi-join of the exploded frame with
    itself (n*d rows a side, d^2-bounded output) — at 100 TB the
    Gram accumulation is the standard d x d map-side-combinable
    aggregate, never an n x n object."""
    emb = Tables(spark, sf_dir).embeddings
    from ror_etl_spark.functions.vectors import as_double

    ex = emb.select(
        "vec_id", F.posexplode(as_double(F.col("embedding"))).alias("i", "val")
    ).localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
    n = emb.agg(F.count(F.lit(1)).cast("double").alias("n"))
    m = (
        ex.crossJoin(F.broadcast(n))
        .groupBy("i")
        .agg((F.sum("val") / F.max("n")).alias("mi"))
    )
    a = ex.select("vec_id", F.col("i").alias("ia"), F.col("val").alias("va"))
    b = ex.select("vec_id", F.col("i").alias("ib"), F.col("val").alias("vb"))
    s = (
        a.join(b, "vec_id")
        .groupBy("ia", "ib")
        .agg(F.sum(F.col("va") * F.col("vb")).alias("sij"))
    )
    c = (
        s.crossJoin(F.broadcast(n))
        .join(F.broadcast(m.select(F.col("i").alias("ia"), F.col("mi").alias("ma"))), "ia")
        .join(F.broadcast(m.select(F.col("i").alias("ib"), F.col("mi").alias("mb"))), "ib")
        .select(
            "ia",
            "ib",
            (F.col("sij") / F.col("n") - F.col("ma") * F.col("mb")).alias("cij"),
        )
    )
    agg = c.agg(
        F.sum(F.when(F.col("ia") == F.col("ib"), F.col("cij")).otherwise(0.0)).alias(
            "tr"
        ),
        F.sum(F.col("cij") * F.col("cij")).alias("frob"),
    )
    return agg.crossJoin(F.broadcast(n)).select(
        F.col("n").cast("long").alias("n_vectors"),
        F.lit(64).cast("long").alias("dim"),
        F.round(F.col("tr") + 1e-9, 6).alias("trace_cov"),
        F.round(F.col("frob") + 1e-9, 8).alias("frob_norm_sq"),
        F.round(F.col("tr") * F.col("tr") / F.col("frob") + 1e-9, 4).alias(
            "participation_ratio"
        ),
        F.round(
            F.col("tr") * F.col("tr") / F.col("frob") / 64 + 1e-9, 4
        ).alias("pr_fraction"),
    )


_RAKE_STOPS = ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"]


@staged(
    "text_rake_keyphrases",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(arr) AS tok,
             generate_subscripts(arr, 1) AS pos
      FROM (SELECT doc_id, string_split(text, ' ') AS arr
            FROM documents WHERE lang = 'en') d),
    marked AS (
      SELECT doc_id, tok, pos,
             sum(CASE WHEN tok IN ({', '.join(repr(w) for w in _RAKE_STOPS)})
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS pid,
             CASE WHEN tok IN ({', '.join(repr(w) for w in _RAKE_STOPS)})
                  THEN 1 ELSE 0 END AS is_stop
      FROM toks),
    pw AS (
      SELECT doc_id, pid, tok, pos,
             count(*) OVER (PARTITION BY doc_id, pid) AS plen
      FROM marked WHERE is_stop = 0),
    ws AS (
      SELECT tok, count(*) * 1.0 AS freq, sum(plen) * 1.0 AS deg
      FROM pw GROUP BY tok),
    phr AS (
      SELECT doc_id, pid,
             string_agg(pw.tok, ' ' ORDER BY pw.pos) AS phrase,
             sum(ws.deg / ws.freq) AS score
      FROM pw JOIN ws USING (tok)
      GROUP BY doc_id, pid),
    dedup AS (
      SELECT phrase, count(*) AS n_occurrences,
             round(max(score) + 1e-9, 6) AS rake_score
      FROM phr GROUP BY phrase)
    SELECT phrase, CAST(n_occurrences AS BIGINT) AS n_occurrences,
           rake_score
    FROM dedup
    ORDER BY rake_score DESC, phrase
    LIMIT 15
    """,
)
def text_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction over the English slice: stopwords
    (the registered lang-ID list, so the boundary definition is shared
    with the quality ops) delimit candidate phrases; word score =
    degree/frequency where degree sums the lengths of phrases
    containing the word; phrase score = sum of member word scores;
    top-15 distinct phrases. The unsupervised 'what is this corpus
    about' extractor that complements PMI/LLR collocations (fixed
    n-grams) with variable-length phrases.

    Scale shape: explode -> per-doc running stop-count (a DOC-bounded
    window) -> phrase and word aggregates keyed by token/phrase —
    shuffles are vocabulary/phrase-sized after the first pass.
    Round-before-rank with a phrase tiebreak."""
    d = Tables(spark, sf_dir).documents.filter(F.col("lang") == "en")
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    stops = F.array(*[F.lit(w) for w in _RAKE_STOPS])
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    marked = toks.select(
        "doc_id",
        "tok",
        "pos",
        F.sum(
            F.when(F.array_contains(stops, F.col("tok")), 1).otherwise(0)
        ).over(wdoc).alias("pid"),
        F.array_contains(stops, F.col("tok")).alias("is_stop"),
    )
    wphr = Window.partitionBy("doc_id", "pid")
    pw = (
        marked.filter(~F.col("is_stop"))
        .withColumn("plen", F.count(F.lit(1)).over(wphr))
        .localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
    )
    ws = pw.groupBy("tok").agg(
        F.count(F.lit(1)).cast("double").alias("freq"),
        F.sum("plen").cast("double").alias("deg"),
    )
    phr = (
        pw.join(F.broadcast(ws), "tok")
        .groupBy("doc_id", "pid")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda st: st.tok,
                ),
                " ",
            ).alias("phrase"),
            F.sum(F.col("deg") / F.col("freq")).alias("score"),
        )
    )
    dedup = phr.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        F.round(F.max("score") + 1e-9, 6).alias("rake_score"),
    )
    return dedup.orderBy(F.desc("rake_score"), F.asc("phrase")).limit(15)


# ---------------------------------------------------------------------------
# Wave 11: vocabulary richness, psychometrics, drift detection,
# multivariate testing, clustering validity
# ---------------------------------------------------------------------------


@staged(
    "chao1_vocab_richness",
    oracle="""
    WITH toks AS (
      SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+',
                    ' ', 'g')), ' ')) AS tok
      FROM documents),
    wc AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    ag AS (
      SELECT count(*) AS s_obs, sum(c) AS n_tokens,
             sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS f1,
             sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS f2
      FROM wc)
    SELECT CAST(s_obs AS BIGINT) AS s_obs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(f1 AS BIGINT) AS f1, CAST(f2 AS BIGINT) AS f2,
           round(s_obs + f1 * (f1 - 1.0) / (2.0 * (f2 + 1.0)) + 1e-9, 4)
             AS chao1_bc,
           CASE WHEN f2 > 0
                THEN round(s_obs + f1 * 1.0 * f1 / (2.0 * f2) + 1e-9, 4)
                END AS chao1_classic,
           round(1.0 - f1 * 1.0 / n_tokens + 1e-9, 6) AS good_coverage
    FROM ag
    """,
)
def chao1_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 species-richness estimate of the UNSEEN vocabulary: from
    the frequency-of-frequencies ladder (f1 singletons, f2 doubletons),
    the bias-corrected Chao1 = S_obs + f1(f1-1)/(2(f2+1)) (always
    defined) and the classic f1^2/(2 f2) form, plus Good's sample
    coverage 1 - f1/N. The 'how many word types exist that this corpus
    has never seen' companion to ``heaps_law_vocab_fit`` (growth-curve
    extrapolation) and ``good_turing_word_smoothing`` (probability-mass
    reassignment) — same whitespace tokenization as both.

    Scale shape: token explode -> vocabulary-keyed count -> ONE scalar
    aggregate over the count frame (the frequency-of-frequencies never
    materializes; the CASE sums consume counts directly). Two shuffles
    total, both partial-agg friendly; output is a single row."""
    d = Tables(spark, sf_dir).documents
    toks = d.select(
        F.explode(
            F.split(
                F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "
            )
        ).alias("tok")
    )
    wc = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    ag = wc.agg(
        F.count(F.lit(1)).alias("s_obs"),
        F.sum("c").alias("n_tokens"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).alias("f2"),
    )
    s = F.col("s_obs").cast("double")
    f1 = F.col("f1").cast("double")
    f2 = F.col("f2").cast("double")
    n = F.col("n_tokens").cast("double")
    return ag.select(
        F.col("s_obs").cast("long").alias("s_obs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("f1").cast("long").alias("f1"),
        F.col("f2").cast("long").alias("f2"),
        F.round(
            s + f1 * (f1 - 1.0) / (2.0 * (f2 + 1.0)) + 1e-9, 4
        ).alias("chao1_bc"),
        F.when(
            f2 > 0, F.round(s + f1 * f1 / (2.0 * f2) + 1e-9, 4)
        ).alias("chao1_classic"),
        F.round(1.0 - f1 / n + 1e-9, 6).alias("good_coverage"),
    )


@staged(
    "cronbach_alpha_event_types",
    oracle="""
    WITH ut AS (
      SELECT user_id, event_type, CAST(count(*) AS DOUBLE) AS x
      FROM events GROUP BY user_id, event_type),
    u AS (
      SELECT CAST(count(DISTINCT user_id) AS DOUBLE) AS nu,
             CAST(count(DISTINCT event_type) AS DOUBLE) AS k
      FROM ut),
    pt AS (
      SELECT event_type, sum(x) AS s, sum(x * x) AS ss
      FROM ut GROUP BY event_type),
    iv AS (
      SELECT sum((pt.ss - pt.s * pt.s / u.nu) / (u.nu - 1.0)) AS item_var
      FROM pt CROSS JOIN u),
    tot AS (SELECT user_id, sum(x) AS t FROM ut GROUP BY user_id),
    tv AS (
      SELECT (sum(t.t * t.t) - sum(t.t) * sum(t.t) / u.nu) / (u.nu - 1.0)
               AS total_var
      FROM tot t CROSS JOIN u GROUP BY u.nu)
    SELECT CAST(u.nu AS BIGINT) AS n_users, CAST(u.k AS BIGINT) AS k_items,
           round(iv.item_var + 1e-9, 4) AS sum_item_var,
           round(tv.total_var + 1e-9, 4) AS total_var,
           round(u.k / (u.k - 1.0)
                 * (1.0 - iv.item_var / tv.total_var) + 1e-9, 6)
             AS cronbach_alpha
    FROM u CROSS JOIN iv CROSS JOIN tv
    """,
)
def cronbach_alpha_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha over the user x event-type count matrix: items
    = the event types, subjects = users, score = per-user event count
    of that type (implicit ZEROS for types a user never fired). alpha
    = k/(k-1) (1 - sum_t var_t / var(total)) — the internal-consistency
    screen for 'do these event streams measure one underlying
    engagement trait', the psychometric complement to
    ``user_event_entropy_topk`` (per-user mix) and
    ``cochran_q_daily_types`` (binary repeated measures).

    Exactness trick: the zero cells never materialize — a type's
    across-ALL-users variance comes from sufficient statistics of the
    PRESENT (user, type) rows alone, since zeros add nothing to sum or
    sum-of-squares: var_t = (ss_t - s_t^2/U) / (U-1) with U the full
    user count. The same closed form covers the row-total variance, so
    both engines compute identical algebra on one (user, type) frame.

    Scale shape: one data-sized groupBy to the (user, type) frame,
    then a type-keyed aggregate (bounded by the type domain) and a
    user-keyed total aggregate — all partial-agg friendly, no grid
    materialization, single-row output."""
    e = Tables(spark, sf_dir).events
    ut = (
        e.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).cast("double").alias("x"))
        .localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
    )
    u = ut.agg(
        F.countDistinct("user_id").cast("double").alias("nu"),
        F.countDistinct("event_type").cast("double").alias("k"),
    )
    pt = ut.groupBy("event_type").agg(
        F.sum("x").alias("s"), F.sum(F.col("x") * F.col("x")).alias("ss")
    )
    iv = (
        pt.crossJoin(F.broadcast(u))
        .select(
            (
                (F.col("ss") - F.col("s") * F.col("s") / F.col("nu"))
                / (F.col("nu") - 1.0)
            ).alias("v")
        )
        .agg(F.sum("v").alias("item_var"))
    )
    tot = ut.groupBy("user_id").agg(F.sum("x").alias("t"))
    tv = (
        tot.agg(
            F.sum(F.col("t") * F.col("t")).alias("tss"),
            F.sum("t").alias("ts"),
        )
        .crossJoin(F.broadcast(u))
        .select(
            (
                (F.col("tss") - F.col("ts") * F.col("ts") / F.col("nu"))
                / (F.col("nu") - 1.0)
            ).alias("total_var")
        )
    )
    return (
        u.crossJoin(F.broadcast(iv))
        .crossJoin(F.broadcast(tv))
        .select(
            F.col("nu").cast("long").alias("n_users"),
            F.col("k").cast("long").alias("k_items"),
            F.round(F.col("item_var") + 1e-9, 4).alias("sum_item_var"),
            F.round(F.col("total_var") + 1e-9, 4).alias("total_var"),
            F.round(
                F.col("k")
                / (F.col("k") - 1.0)
                * (1.0 - F.col("item_var") / F.col("total_var"))
                + 1e-9,
                6,
            ).alias("cronbach_alpha"),
        )
    )


@staged(
    "page_hinkley_daily_revenue",
    oracle=f"""
    WITH {_DAILY_SQL},
    cm AS (
      SELECT t, y,
             avg(y) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS ca
      FROM daily),
    mseq AS (
      SELECT t,
             sum(y - ca) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS m
      FROM cm),
    ph AS (
      SELECT t,
             round(m - min(m) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW) + 1e-9, 4) AS ph
      FROM mseq),
    mx AS (SELECT max(ph) AS ph_max FROM ph),
    arg AS (
      SELECT min(ph.t) AS t_at_max FROM ph CROSS JOIN mx
      WHERE ph.ph = mx.ph_max),
    sd AS (
      SELECT count(*) AS n_days, stddev_pop(y) AS sigma FROM daily)
    SELECT CAST(sd.n_days AS BIGINT) AS n_days,
           mx.ph_max,
           CAST(arg.t_at_max AS BIGINT) AS t_at_max,
           round(sd.sigma + 1e-9, 4) AS sigma,
           CAST(mx.ph_max > 3.0 * sd.sigma AS BOOLEAN) AS drift_detected
    FROM sd CROSS JOIN mx CROSS JOIN arg
    """,
)
def page_hinkley_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley drift statistic on the daily purchase-revenue
    series (delta = 0 form): d_t = y_t - cumulative-mean_t, m_t =
    cumsum(d), PH_t = m_t - running-min(m); the reported PH_max with
    its day and the 3-sigma comparison is the standard data-stream
    mean-shift detector — the sequential complement to
    ``changepoint_binseg_daily_revenue`` (offline SSE split) and
    ``cusum_changepoint_daily`` (known-target CUSUM): PH needs no
    reference mean, it tracks its own.

    Round-before-rank: PH_t is quantized to 4 dp BEFORE the argmax and
    the argmax tiebreak is min(t), so both engines pick the same day.

    Scale shape: after the one data-sized daily rollup every window
    runs on the bounded (~month) frame — single-partition by
    construction, domain-bounded, not data-sized."""
    daily = _daily_df(spark, sf_dir)
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    cm = daily.select("t", "y", F.avg("y").over(w).alias("ca"))
    mseq = cm.select(
        "t", F.sum(F.col("y") - F.col("ca")).over(w).alias("m")
    )
    ph = mseq.select(
        "t",
        F.round(F.col("m") - F.min("m").over(w) + 1e-9, 4).alias("ph"),
    )
    mx = ph.agg(F.max("ph").alias("ph_max"))
    arg = (
        ph.crossJoin(F.broadcast(mx))
        .filter(F.col("ph") == F.col("ph_max"))
        .agg(F.min("t").alias("t_at_max"))
    )
    sd = daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.stddev_pop("y").alias("sigma"),
    )
    return (
        sd.crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(arg))
        .select(
            F.col("n_days").cast("long").alias("n_days"),
            F.col("ph_max"),
            F.col("t_at_max").cast("long").alias("t_at_max"),
            F.round(F.col("sigma") + 1e-9, 4).alias("sigma"),
            (F.col("ph_max") > 3.0 * F.col("sigma")).alias(
                "drift_detected"
            ),
        )
    )


@staged(
    "hotelling_t2_click_purchase",
    oracle="""
    WITH ev AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g,
             value AS x,
             CAST(date_part('hour', ts) AS DOUBLE) AS y
      FROM events WHERE event_type IN ('click', 'purchase')),
    st AS (
      SELECT sum(CASE WHEN g = 1 THEN 1.0 ELSE 0 END) AS n1,
             sum(CASE WHEN g = 0 THEN 1.0 ELSE 0 END) AS n0,
             sum(CASE WHEN g = 1 THEN x ELSE 0 END) AS sx1,
             sum(CASE WHEN g = 0 THEN x ELSE 0 END) AS sx0,
             sum(CASE WHEN g = 1 THEN y ELSE 0 END) AS sy1,
             sum(CASE WHEN g = 0 THEN y ELSE 0 END) AS sy0,
             sum(CASE WHEN g = 1 THEN x * x ELSE 0 END) AS sxx1,
             sum(CASE WHEN g = 0 THEN x * x ELSE 0 END) AS sxx0,
             sum(CASE WHEN g = 1 THEN y * y ELSE 0 END) AS syy1,
             sum(CASE WHEN g = 0 THEN y * y ELSE 0 END) AS syy0,
             sum(CASE WHEN g = 1 THEN x * y ELSE 0 END) AS sxy1,
             sum(CASE WHEN g = 0 THEN x * y ELSE 0 END) AS sxy0
      FROM ev),
    pc AS (
      SELECT n1, n0,
             sx1 / n1 - sx0 / n0 AS dx,
             sy1 / n1 - sy0 / n0 AS dy,
             ((sxx1 - sx1 * sx1 / n1) + (sxx0 - sx0 * sx0 / n0))
               / (n1 + n0 - 2.0) AS vxx,
             ((syy1 - sy1 * sy1 / n1) + (syy0 - sy0 * sy0 / n0))
               / (n1 + n0 - 2.0) AS vyy,
             ((sxy1 - sx1 * sy1 / n1) + (sxy0 - sx0 * sy0 / n0))
               / (n1 + n0 - 2.0) AS vxy
      FROM st),
    t2 AS (
      SELECT n1, n0, dx, dy,
             (n1 * n0 / (n1 + n0))
               * (dx * dx * vyy - 2.0 * dx * dy * vxy + dy * dy * vxx)
               / (vxx * vyy - vxy * vxy) AS t2
      FROM pc)
    SELECT CAST(n0 AS BIGINT) AS n_click, CAST(n1 AS BIGINT) AS n_purchase,
           round(dx + 1e-9, 4) AS diff_value,
           round(dy + 1e-9, 6) AS diff_hour,
           round(t2 + 1e-9, 4) AS t2,
           round((n1 + n0 - 3.0) / (2.0 * (n1 + n0 - 2.0)) * t2 + 1e-9, 4)
             AS f_stat
    FROM t2
    """,
)
def hotelling_t2_click_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hotelling's T-squared two-sample test on the BIVARIATE outcome
    (event value, hour-of-day) between click and purchase events: T2 =
    (n1 n0/(n1+n0)) d' S_pooled^-1 d with the 2x2 pooled covariance
    inverted in closed form, plus the exact F-map (n-p-1)/((n-2)p) T2
    for p = 2. The multivariate generalization the univariate pair
    (``cohens_d_urgent_low``, ``ks_test_value_click_purchase``) can't
    express: a shift that's null on each margin but real jointly
    (value and time-of-day move TOGETHER) lights up only here.

    Scale shape: ONE twelve-sum conditional aggregate over the
    filtered fact scan (sufficient statistics; hour() stays JVM-side
    under the UTC-pinned session), then scalar algebra on the 1-row
    frame. No shuffle beyond the partial-agg merge."""
    e = Tables(spark, sf_dir).events.filter(
        F.col("event_type").isin("click", "purchase")
    )
    ev = e.select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("g"),
        F.col("value").alias("x"),
        F.hour("ts").cast("double").alias("y"),
    )
    g1 = F.col("g") == 1
    g0 = F.col("g") == 0
    st = ev.agg(
        F.sum(F.when(g1, 1.0).otherwise(0.0)).alias("n1"),
        F.sum(F.when(g0, 1.0).otherwise(0.0)).alias("n0"),
        F.sum(F.when(g1, F.col("x")).otherwise(0.0)).alias("sx1"),
        F.sum(F.when(g0, F.col("x")).otherwise(0.0)).alias("sx0"),
        F.sum(F.when(g1, F.col("y")).otherwise(0.0)).alias("sy1"),
        F.sum(F.when(g0, F.col("y")).otherwise(0.0)).alias("sy0"),
        F.sum(F.when(g1, F.col("x") * F.col("x")).otherwise(0.0)).alias(
            "sxx1"
        ),
        F.sum(F.when(g0, F.col("x") * F.col("x")).otherwise(0.0)).alias(
            "sxx0"
        ),
        F.sum(F.when(g1, F.col("y") * F.col("y")).otherwise(0.0)).alias(
            "syy1"
        ),
        F.sum(F.when(g0, F.col("y") * F.col("y")).otherwise(0.0)).alias(
            "syy0"
        ),
        F.sum(F.when(g1, F.col("x") * F.col("y")).otherwise(0.0)).alias(
            "sxy1"
        ),
        F.sum(F.when(g0, F.col("x") * F.col("y")).otherwise(0.0)).alias(
            "sxy0"
        ),
    )
    n1, n0 = F.col("n1"), F.col("n0")
    pc = st.select(
        n1,
        n0,
        (F.col("sx1") / n1 - F.col("sx0") / n0).alias("dx"),
        (F.col("sy1") / n1 - F.col("sy0") / n0).alias("dy"),
        (
            (
                (F.col("sxx1") - F.col("sx1") * F.col("sx1") / n1)
                + (F.col("sxx0") - F.col("sx0") * F.col("sx0") / n0)
            )
            / (n1 + n0 - 2.0)
        ).alias("vxx"),
        (
            (
                (F.col("syy1") - F.col("sy1") * F.col("sy1") / n1)
                + (F.col("syy0") - F.col("sy0") * F.col("sy0") / n0)
            )
            / (n1 + n0 - 2.0)
        ).alias("vyy"),
        (
            (
                (F.col("sxy1") - F.col("sx1") * F.col("sy1") / n1)
                + (F.col("sxy0") - F.col("sx0") * F.col("sy0") / n0)
            )
            / (n1 + n0 - 2.0)
        ).alias("vxy"),
    )
    t2c = (
        n1
        * n0
        / (n1 + n0)
        * (
            F.col("dx") * F.col("dx") * F.col("vyy")
            - 2.0 * F.col("dx") * F.col("dy") * F.col("vxy")
            + F.col("dy") * F.col("dy") * F.col("vxx")
        )
        / (F.col("vxx") * F.col("vyy") - F.col("vxy") * F.col("vxy"))
    )
    t2 = pc.select(n1, n0, F.col("dx"), F.col("dy"), t2c.alias("t2"))
    return t2.select(
        n0.cast("long").alias("n_click"),
        n1.cast("long").alias("n_purchase"),
        F.round(F.col("dx") + 1e-9, 4).alias("diff_value"),
        F.round(F.col("dy") + 1e-9, 6).alias("diff_hour"),
        F.round(F.col("t2") + 1e-9, 4).alias("t2"),
        F.round(
            (n1 + n0 - 3.0) / (2.0 * (n1 + n0 - 2.0)) * F.col("t2") + 1e-9,
            4,
        ).alias("f_stat"),
    )


@staged(
    "calinski_harabasz_embeddings",
    oracle="""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings),
    dims AS (
      SELECT label, idx.i AS i, sum(v[idx.i]) AS s, count(*) AS n
      FROM e, (SELECT unnest(range(1, 65)) AS i) idx
      GROUP BY label, idx.i),
    cent AS (
      SELECT label, max(n) AS n,
             list(s / n ORDER BY i) AS c,
             list(s ORDER BY i) AS sv
      FROM dims GROUP BY label),
    grand AS (
      SELECT list(gs / gn ORDER BY i) AS g FROM (
        SELECT i, sum(s) AS gs, sum(n) AS gn FROM dims GROUP BY i)),
    btw AS (
      SELECT cent.label, cent.n,
             cent.n * list_sum(list_transform(
               list_zip(cent.c, grand.g),
               p -> (p[1] - p[2]) * (p[1] - p[2]))) AS b
      FROM cent CROSS JOIN grand),
    wss AS (
      SELECT e.label,
             sum(list_sum(list_transform(
               list_zip(e.v, cent.c),
               p -> (p[1] - p[2]) * (p[1] - p[2])))) AS w
      FROM e JOIN cent ON cent.label = e.label
      GROUP BY e.label),
    tot AS (
      SELECT sum(btw.b) AS bt, sum(wss.w) AS wt,
             sum(btw.n) AS nt, count(*) AS k
      FROM btw JOIN wss ON wss.label = btw.label),
    ch AS (
      SELECT round((bt / (k - 1.0)) / (wt / (nt - k)) + 1e-9, 6)
               AS ch_index
      FROM tot)
    SELECT btw.label, CAST(btw.n AS BIGINT) AS n_vectors,
           round(wss.w + 1e-9, 4) AS within_ss,
           round(btw.b + 1e-9, 4) AS between_ss,
           ch.ch_index
    FROM btw JOIN wss ON wss.label = btw.label CROSS JOIN ch
    ORDER BY btw.label
    """,
)
def calinski_harabasz_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Calinski-Harabasz variance-ratio index of the planted embedding
    clusters: CH = (B/(k-1)) / (W/(n-k)) with B = sum_c n_c ||c_c -
    g||^2 (between-cluster dispersion vs the grand centroid) and W =
    sum_points ||x - c_label||^2 (within-cluster). Completes the
    internal-validity triad with ``embedding_silhouette_by_label``
    (per-point margins) and ``davies_bouldin_embeddings`` (worst-pair
    overlap) — CH is the only one of the three built purely from
    VARIANCE decomposition, so it is the cheapest to monitor at scale.

    Scale shape: one (label, dim)-keyed sum/count aggregate feeds both
    the per-label centroids AND the grand centroid (re-aggregated from
    the k x 64 frame, no second data pass for it); W is one map-side
    distance pass over vectors against the broadcast centroids. All
    downstream frames are k-sized."""
    emb = Tables(spark, sf_dir).embeddings
    e = emb.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    dims = (
        e.select("label", F.posexplode("v").alias("i", "x"))
        .groupBy("label", "i")
        .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
    )
    cent = (
        dims.groupBy("label")
        .agg(
            F.max("n").alias("n"),
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("i"), (F.col("s") / F.col("n")).alias("c"))
                )
            ).alias("ic"),
        )
        .select("label", "n", F.transform("ic", lambda s: s["c"]).alias("c"))
    )
    grand = (
        dims.groupBy("i")
        .agg(F.sum("s").alias("gs"), F.sum("n").alias("gn"))
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("i"), (F.col("gs") / F.col("gn")).alias("g")
                    )
                )
            ).alias("ig")
        )
        .select(F.transform("ig", lambda s: s["g"]).alias("g"))
    )
    sqdist = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, z: acc + z,
    )
    btw = cent.crossJoin(F.broadcast(grand)).select(
        "label",
        "n",
        (F.col("n") * sqdist(F.col("c"), F.col("g"))).alias("b"),
    )
    wss = (
        e.join(F.broadcast(cent.select("label", "c")), "label")
        .select("label", sqdist(F.col("v"), F.col("c")).alias("d2"))
        .groupBy("label")
        .agg(F.sum("d2").alias("w"))
    )
    tot = (
        btw.join(wss, "label")
        .agg(
            F.sum("b").alias("bt"),
            F.sum("w").alias("wt"),
            F.sum("n").alias("nt"),
            F.count(F.lit(1)).alias("k"),
        )
        .select(
            F.round(
                (F.col("bt") / (F.col("k") - 1.0))
                / (F.col("wt") / (F.col("nt") - F.col("k")))
                + 1e-9,
                6,
            ).alias("ch_index")
        )
    )
    return (
        btw.join(wss, "label")
        .crossJoin(F.broadcast(tot))
        .select(
            "label",
            F.col("n").cast("long").alias("n_vectors"),
            F.round(F.col("w") + 1e-9, 4).alias("within_ss"),
            F.round(F.col("b") + 1e-9, 4).alias("between_ss"),
            "ch_index",
        )
        .orderBy("label")
    )
