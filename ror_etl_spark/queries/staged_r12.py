"""Governance and decision operators a training-data platform runs
beside curation: privacy risk audits (k-anonymity, l-diversity,
differentially-private release counts over an engine-portable Lehmer
Laplace stream), causal measurement of pipeline interventions (IPTW ATE,
regression discontinuity, interrupted time series, quantile treatment
effects), leakage-safe tabular feature engineering (smoothed target
encoding, WOE/IV binning, VIF, partial correlation, split-conformal
intervals), survival and spectral closures (Weibull median-rank fit,
Aalen-Johansen CIF, spectral entropy, Yule-Walker AR(2), two-sample
Poisson rate test, Anderson-Darling), empirical-Bayes shrinkage of
per-source quality rates, product-analytics state (DAU/WAU stickiness,
bounce depth, growth accounting), a geo family over deterministic
coordinates (Z-order grid cells, broadcast haversine k-NN, bounding-box
range join), and closeness centrality on the sparsified trade graph
(recursive-CTE oracle).

Every entry follows the registry discipline (registry.py module
docstring): identical aliases both sides, epsilon-shifted rounding on
floats, deterministic total orders for every rank/tiebreak, and output
dtypes that match the oracle's exactly (``tests/test_staged_r12.py``
mirrors tools/check.py's strict dtype comparison).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark.storagelevel import StorageLevel

from ror_etl_spark.queries.util import epoch_us
from ror_etl_spark.registry import query
from ror_etl_spark.tables import Tables

_DISK_ONLY = StorageLevel.DISK_ONLY

# Engine-portable Lehmer stream (same constants as staged_r11's A-Res
# sampler): exact int64 arithmetic on both engines, no RNG state.
_LEHMER_M = 2147483647  # 2^31 - 1 (Park-Miller modulus)
_LEHMER_A = 48271


def _lehmer_u(key):
    """U(0,1) strictly inside the open interval, from an integer column.

    TWO Lehmer steps, not one: group keys here are small integers
    (day×type → ≤ a few hundred), and one multiply leaves u ≈ k·A/M — a
    tiny, monotone value, so inverse-CDF draws (the Laplace noise) land
    deep in one tail (caught by test_dp_noise_is_laplace_shaped). The
    second step mixes the low-entropy key across the modulus. Max
    intermediate is M·A < 1.04e14 — exact int64 on both engines."""
    x1 = ((key + 1) % _LEHMER_M) * _LEHMER_A % _LEHMER_M
    return (x1 * _LEHMER_A % _LEHMER_M + 0.5) / float(_LEHMER_M)


def _lehmer_u_sql(key_expr: str) -> str:
    x1 = f"(((({key_expr}) + 1) % {_LEHMER_M}) * {_LEHMER_A} % {_LEHMER_M})"
    return f"({x1} * {_LEHMER_A} % {_LEHMER_M} + 0.5) / {_LEHMER_M}.0"


# ---------------------------------------------------------------------------
# Privacy risk audits: k-anonymity, l-diversity, DP release counts
# ---------------------------------------------------------------------------


@query(
    "k_anonymity_customer_qi",
    oracle="""
    WITH qi AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS bal_band,
             count(*) AS grp_n
      FROM customer GROUP BY 1, 2, 3),
    tot AS (SELECT CAST(sum(grp_n) AS DOUBLE) AS n FROM qi),
    ks AS (SELECT unnest([2, 5, 10, 20]) AS k)
    SELECT ks.k AS k,
           CAST(coalesce(sum(CASE WHEN qi.grp_n < ks.k THEN 1 END), 0)
                AS BIGINT) AS groups_below,
           CAST(coalesce(sum(CASE WHEN qi.grp_n < ks.k THEN qi.grp_n END), 0)
                AS BIGINT) AS rows_at_risk,
           round(coalesce(sum(CASE WHEN qi.grp_n < ks.k THEN qi.grp_n END), 0)
                 / min(tot.n) + 1e-9, 6) AS risk_share
    FROM ks CROSS JOIN qi CROSS JOIN tot
    GROUP BY ks.k ORDER BY k
    """,
)
def k_anonymity_customer_qi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the customer table under the quasi-identifier
    (nation, market segment, 2000-unit balance band): for each policy
    threshold k ∈ {2,5,10,20}, how many QI equivalence classes fall below
    k and what share of rows they re-identify (Sweeney's k-anonymity —
    a row is at risk when its QI class has < k members). The release
    gate a data platform runs before publishing user-derived tables.

    Scale shape: one groupBy over the QI (partial agg does the work
    map-side; QI cardinality ≪ rows), then a 4×|QI| broadcast cross
    join against the threshold ladder — the fact table is touched once."""
    c = Tables(spark, sf_dir).customer
    qi = c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 2000.0).cast("long").alias("bal_band"),
    ).agg(F.count(F.lit(1)).alias("grp_n"))
    ks = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in (2, 5, 10, 20)])).alias("k")
    )
    tot = qi.agg(F.sum("grp_n").cast("double").alias("n"))
    at_risk = F.when(F.col("grp_n") < F.col("k"), F.col("grp_n"))
    return (
        ks.crossJoin(qi)
        .crossJoin(F.broadcast(tot))
        .groupBy("k")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("grp_n") < F.col("k"), 1)), F.lit(0)
            ).alias("groups_below"),
            F.coalesce(F.sum(at_risk), F.lit(0)).alias("rows_at_risk"),
            F.round(
                F.coalesce(F.sum(at_risk), F.lit(0)) / F.min("n") + 1e-9, 6
            ).alias("risk_share"),
        )
        .orderBy("k")
    )


@query(
    "l_diversity_order_priority",
    oracle="""
    WITH joined AS (
      SELECT c.c_nationkey, c.c_mktsegment, o.o_orderpriority
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
    grp AS (
      SELECT c_nationkey, c_mktsegment,
             count(*) AS grp_n,
             count(DISTINCT o_orderpriority) AS l
      FROM joined GROUP BY 1, 2)
    SELECT CAST(count(*) AS BIGINT) AS n_groups,
           CAST(min(l) AS BIGINT) AS min_l,
           CAST(sum(CASE WHEN l < 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS groups_l_below_2,
           CAST(sum(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS groups_l_below_3,
           CAST(sum(CASE WHEN l < 3 THEN grp_n ELSE 0 END) AS BIGINT)
             AS rows_l_below_3,
           round(avg(CAST(l AS DOUBLE)) + 1e-9, 6) AS avg_l
    FROM grp
    """,
)
def l_diversity_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al.): within each
    quasi-identifier class (customer nation × segment), how many DISTINCT
    values of the sensitive attribute (order priority) appear — a class
    that is k-anonymous but 1-diverse still leaks the sensitive value of
    every member. Reports the min/avg l and the classes (and row mass)
    below l ∈ {2,3}. Complements ``k_anonymity_customer_qi``: k bounds
    re-identification, l bounds attribute disclosure.

    Scale shape: fact⋈dim join (orders to customer — at 100 TB both
    shuffle on custkey, or the customer side broadcasts per-partition),
    then a two-level aggregate whose first level (QI × sensitive) is
    partial-agg friendly; distinct-count per QI rides the same shuffle."""
    t = Tables(spark, sf_dir)
    joined = t.orders.join(
        t.customer, F.col("o_custkey") == F.col("c_custkey")
    ).select("c_nationkey", "c_mktsegment", "o_orderpriority")
    grp = joined.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("grp_n"),
        F.countDistinct("o_orderpriority").alias("l"),
    )
    return grp.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.min("l").alias("min_l"),
        F.sum(F.when(F.col("l") < 2, 1).otherwise(0)).alias("groups_l_below_2"),
        F.sum(F.when(F.col("l") < 3, 1).otherwise(0)).alias("groups_l_below_3"),
        F.sum(F.when(F.col("l") < 3, F.col("grp_n")).otherwise(0)).alias(
            "rows_l_below_3"
        ),
        F.round(F.avg(F.col("l").cast("double")) + 1e-9, 6).alias("avg_l"),
    )


@query(
    "dp_noisy_counts_laplace",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(date_diff('day', TIMESTAMP '2024-01-01', ts) AS BIGINT)
               AS day_idx,
             event_type, count(*) AS true_n
      FROM events GROUP BY 1, 2),
    keyed AS (
      SELECT day_idx, event_type, true_n,
             {_lehmer_u_sql("day_idx * 31 + length(event_type) * 7")} AS u
      FROM daily),
    noised AS (
      SELECT day_idx, event_type, true_n,
             -1.0 * CASE WHEN u < 0.5 THEN -1.0 ELSE 1.0 END
               * ln(1.0 - 2.0 * abs(u - 0.5)) AS noise
      FROM keyed)
    SELECT day_idx, event_type, CAST(true_n AS BIGINT) AS true_n,
           round(true_n + noise + 1e-9, 4) AS released_n,
           round(abs(noise) + 1e-9, 4) AS abs_noise
    FROM noised ORDER BY day_idx, event_type
    """,
)
def dp_noisy_counts_laplace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-differentially-private release of the daily event-type counts:
    Laplace mechanism with sensitivity 1 and ε = 1, noise b·sgn(0.5−u)·
    ln(1−2|u−0.5|) with b = 1/ε — the inverse-CDF form, driven by the
    engine-portable Lehmer uniform keyed on (day, type-length) so both
    engines draw the IDENTICAL noise stream (reproducible-release mode;
    a production deployment swaps the keyed stream for a secret-seeded
    one, same plan). The release a platform publishes instead of raw
    per-day usage counts.

    Scale shape: one groupBy (partial-agg) over day×type — noise is a
    per-GROUP scalar map, so the mechanism costs nothing beyond the
    aggregate it protects; no shuffle is added."""
    e = Tables(spark, sf_dir).events
    daily = e.groupBy(
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        )
        .cast("long")
        .alias("day_idx"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("true_n"))
    u = _lehmer_u(F.col("day_idx") * 31 + F.length("event_type") * 7)
    noise = (
        F.lit(-1.0)
        * F.when(u < 0.5, F.lit(-1.0)).otherwise(F.lit(1.0))
        * F.log(F.lit(1.0) - 2.0 * F.abs(u - 0.5))
    )
    return (
        daily.select(
            "day_idx",
            "event_type",
            F.col("true_n").alias("true_n"),
            F.round(F.col("true_n") + noise + 1e-9, 4).alias("released_n"),
            F.round(F.abs(noise) + 1e-9, 4).alias("abs_noise"),
        )
        .orderBy("day_idx", "event_type")
    )


# ---------------------------------------------------------------------------
# Leakage-safe tabular feature engineering
# ---------------------------------------------------------------------------


@query(
    "target_encoding_smoothed",
    oracle="""
    WITH joined AS (
      SELECT c.c_mktsegment AS seg, o.o_totalprice AS y
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
    g AS (SELECT seg, count(*) AS n, avg(y) AS seg_mean FROM joined
          GROUP BY seg),
    gl AS (SELECT avg(y) AS gmean FROM joined)
    SELECT g.seg AS seg, CAST(g.n AS BIGINT) AS n,
           round(g.seg_mean + 1e-9, 4) AS seg_mean,
           round((g.n * g.seg_mean + 50.0 * gl.gmean) / (g.n + 50.0)
                 + 1e-9, 4) AS encoded,
           round(abs(g.seg_mean - gl.gmean) + 1e-9, 4) AS shift_raw
    FROM g CROSS JOIN gl ORDER BY seg
    """,
)
def target_encoding_smoothed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m-estimate (smoothed) target encoding of the customer market
    segment against order value: encoded = (n·mean_seg + m·mean_global)
    / (n + m) with m = 50 — the standard high-cardinality categorical
    feature for gradient-boosted models, shrunk toward the prior so
    rare categories don't memorize their few labels. Reports raw vs
    encoded means so the shrinkage is visible.

    Scale shape: fact⋈dim join then one tiny groupBy(segment) plus a
    broadcast global scalar — the encode table this produces is itself
    a broadcast-side dim for the downstream feature join."""
    t = Tables(spark, sf_dir)
    joined = t.orders.join(
        t.customer, F.col("o_custkey") == F.col("c_custkey")
    ).select(F.col("c_mktsegment").alias("seg"), F.col("o_totalprice").alias("y"))
    g = joined.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n"), F.avg("y").alias("seg_mean")
    )
    glob = joined.agg(F.avg("y").alias("gmean"))
    return (
        g.crossJoin(F.broadcast(glob))
        .select(
            "seg",
            "n",
            F.round(F.col("seg_mean") + 1e-9, 4).alias("seg_mean"),
            F.round(
                (F.col("n") * F.col("seg_mean") + 50.0 * F.col("gmean"))
                / (F.col("n") + 50.0)
                + 1e-9,
                4,
            ).alias("encoded"),
            F.round(F.abs(F.col("seg_mean") - F.col("gmean")) + 1e-9, 4).alias(
                "shift_raw"
            ),
        )
        .orderBy("seg")
    )


@query(
    "woe_iv_acctbal_band",
    oracle="""
    WITH lab AS (
      SELECT c.c_custkey,
             least(greatest(CAST(floor((c.c_acctbal + 1000.0) / 1200.0)
                                 AS BIGINT), 0), 9) AS band,
             CASE WHEN max(CASE WHEN o.o_orderpriority = '1-URGENT'
                           THEN 1 ELSE 0 END) = 1
                  THEN 1 ELSE 0 END AS y
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey, band),
    g AS (
      SELECT band,
             sum(y) + 0.5 AS good,
             sum(1 - y) + 0.5 AS bad
      FROM lab GROUP BY band),
    tot AS (SELECT sum(good) AS tg, sum(bad) AS tb FROM g),
    woe AS (
      SELECT g.band, g.good, g.bad,
             ln((g.good / tot.tg) / (g.bad / tot.tb)) AS w,
             (g.good / tot.tg - g.bad / tot.tb)
               * ln((g.good / tot.tg) / (g.bad / tot.tb)) AS iv_term
      FROM g CROSS JOIN tot)
    SELECT CAST(band AS BIGINT) AS band,
           CAST(good - 0.5 AS BIGINT) AS n_pos,
           CAST(bad - 0.5 AS BIGINT) AS n_neg,
           round(w + 1e-9, 6) AS woe,
           round(sum(iv_term) OVER () + 1e-9, 6) AS iv_total
    FROM woe ORDER BY band
    """,
)
def woe_iv_acctbal_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information-value binning (the credit-
    scorecard feature screen): bin account balance into 10 fixed-width
    bands, label each customer 1 if they ever placed an URGENT-priority
    order, and compute per-band WOE = ln((pos_share)/(neg_share)) with
    a 0.5 continuity correction, plus the total IV (Σ (Δshare)·WOE) that
    ranks the feature's predictive strength (rule of thumb: IV > 0.3 =
    strong). The per-customer label is a LEFT join so order-less
    customers count as negatives.

    Scale shape: dim⋈fact left join aggregated per customer (one
    shuffle on custkey), then a 10-key groupBy; the IV total is a
    window over 10 rows — bounded frame, no single-task risk."""
    t = Tables(spark, sf_dir)
    lab = (
        t.customer.join(
            t.orders, F.col("o_custkey") == F.col("c_custkey"), "left"
        )
        .groupBy(
            "c_custkey",
            F.least(
                F.greatest(
                    F.floor((F.col("c_acctbal") + 1000.0) / 1200.0).cast("long"),
                    F.lit(0).cast("long"),
                ),
                F.lit(9).cast("long"),
            ).alias("band"),
        )
        .agg(
            F.max(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            ).alias("y")
        )
    )
    g = lab.groupBy("band").agg(
        (F.sum("y") + 0.5).alias("good"),
        (F.sum(F.lit(1) - F.col("y")) + 0.5).alias("bad"),
    )
    tot = g.agg(F.sum("good").alias("tg"), F.sum("bad").alias("tb"))
    woe = g.crossJoin(F.broadcast(tot)).select(
        "band",
        "good",
        "bad",
        F.log((F.col("good") / F.col("tg")) / (F.col("bad") / F.col("tb"))).alias(
            "w"
        ),
        (
            (F.col("good") / F.col("tg") - F.col("bad") / F.col("tb"))
            * F.log(
                (F.col("good") / F.col("tg")) / (F.col("bad") / F.col("tb"))
            )
        ).alias("iv_term"),
    )
    return (
        woe.select(
            "band",
            (F.col("good") - 0.5).cast("long").alias("n_pos"),
            (F.col("bad") - 0.5).cast("long").alias("n_neg"),
            F.round(F.col("w") + 1e-9, 6).alias("woe"),
            F.round(
                F.sum("iv_term").over(
                    Window.rowsBetween(
                        Window.unboundedPreceding, Window.unboundedFollowing
                    )
                )
                + 1e-9,
                6,
            ).alias("iv_total"),
        )
        .orderBy("band")
    )


@query(
    "vif_lineitem_factors",
    oracle="""
    WITH st AS (
      SELECT corr(l_quantity, l_extendedprice) AS r12,
             corr(l_quantity, l_discount) AS r13,
             corr(l_extendedprice, l_discount) AS r23,
             count(*) AS n
      FROM lineitem),
    d AS (
      SELECT n, r12, r13, r23,
             1 + 2 * r12 * r13 * r23 - r12 * r12 - r13 * r13 - r23 * r23
               AS det
      FROM st)
    SELECT CAST(n AS BIGINT) AS n,
           round((1 - r23 * r23) / det + 1e-9, 6) AS vif_quantity,
           round((1 - r13 * r13) / det + 1e-9, 6) AS vif_extendedprice,
           round((1 - r12 * r12) / det + 1e-9, 6) AS vif_discount,
           round(det + 1e-9, 6) AS corr_det
    FROM d
    """,
)
def vif_lineitem_factors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance inflation factors for the three lineitem regressors
    (quantity, extended price, discount) via the closed-form inverse of
    the 3×3 correlation matrix: VIF_i = R⁻¹_ii, with det(R) = 1 +
    2·r₁₂r₁₃r₂₃ − Σr². The multicollinearity screen run before any OLS
    on these factors (VIF > 5–10 = the coefficient is unstable);
    complements the registered ``correlation_matrix_lineitem`` (raw
    pairwise r) by reporting the quantity a modeler actually gates on.

    Scale shape: one pass of partial-aggregated co-moments (Catalyst
    computes all three corr() in a single scan), then scalar math —
    nothing but the scan touches data."""
    li = Tables(spark, sf_dir).lineitem
    st = li.agg(
        F.corr("l_quantity", "l_extendedprice").alias("r12"),
        F.corr("l_quantity", "l_discount").alias("r13"),
        F.corr("l_extendedprice", "l_discount").alias("r23"),
        F.count(F.lit(1)).alias("n"),
    )
    det = (
        1
        + 2 * F.col("r12") * F.col("r13") * F.col("r23")
        - F.col("r12") * F.col("r12")
        - F.col("r13") * F.col("r13")
        - F.col("r23") * F.col("r23")
    )
    return st.select(
        "n",
        F.round((1 - F.col("r23") * F.col("r23")) / det + 1e-9, 6).alias(
            "vif_quantity"
        ),
        F.round((1 - F.col("r13") * F.col("r13")) / det + 1e-9, 6).alias(
            "vif_extendedprice"
        ),
        F.round((1 - F.col("r12") * F.col("r12")) / det + 1e-9, 6).alias(
            "vif_discount"
        ),
        F.round(det + 1e-9, 6).alias("corr_det"),
    )


@query(
    "partial_corr_qty_price_disc",
    oracle="""
    WITH st AS (
      SELECT corr(l_quantity, l_extendedprice) AS rxy,
             corr(l_quantity, l_discount) AS rxz,
             corr(l_extendedprice, l_discount) AS ryz,
             count(*) AS n
      FROM lineitem)
    SELECT CAST(n AS BIGINT) AS n,
           round(rxy + 1e-9, 6) AS r_raw,
           round((rxy - rxz * ryz)
                 / sqrt((1 - rxz * rxz) * (1 - ryz * ryz)) + 1e-9, 6)
             AS r_partial,
           round(abs(rxy - (rxy - rxz * ryz)
                 / sqrt((1 - rxz * rxz) * (1 - ryz * ryz))) + 1e-9, 6)
             AS confounding_shift
    FROM st
    """,
)
def partial_corr_qty_price_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order partial correlation of quantity and extended price
    CONTROLLING for discount: r_xy·z = (r_xy − r_xz·r_yz) /
    √((1−r_xz²)(1−r_yz²)) — the screen that separates a direct
    association from one routed through a shared driver. Reports raw vs
    partial r and the confounding shift |Δ|.

    Scale shape: identical to ``vif_lineitem_factors`` — one scan of
    co-moments, scalar closed form after."""
    li = Tables(spark, sf_dir).lineitem
    st = li.agg(
        F.corr("l_quantity", "l_extendedprice").alias("rxy"),
        F.corr("l_quantity", "l_discount").alias("rxz"),
        F.corr("l_extendedprice", "l_discount").alias("ryz"),
        F.count(F.lit(1)).alias("n"),
    )
    partial = (F.col("rxy") - F.col("rxz") * F.col("ryz")) / F.sqrt(
        (1 - F.col("rxz") * F.col("rxz")) * (1 - F.col("ryz") * F.col("ryz"))
    )
    return st.select(
        "n",
        F.round(F.col("rxy") + 1e-9, 6).alias("r_raw"),
        F.round(partial + 1e-9, 6).alias("r_partial"),
        F.round(F.abs(F.col("rxy") - partial) + 1e-9, 6).alias(
            "confounding_shift"
        ),
    )


@query(
    "conformal_interval_totalprice",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderpriority AS p, o_totalprice AS y,
             o_orderkey % 3 AS fold
      FROM orders),
    mu AS (
      SELECT p, avg(y) AS pred FROM base WHERE fold = 0 GROUP BY p),
    calib AS (
      SELECT abs(b.y - mu.pred) AS score
      FROM base b JOIN mu ON b.p = mu.p WHERE b.fold = 1),
    q AS (
      SELECT quantile_disc(score, 0.9) AS qhat,
             count(*) AS n_calib
      FROM calib),
    test AS (
      SELECT CASE WHEN abs(b.y - mu.pred) <= q.qhat THEN 1.0 ELSE 0.0 END
               AS covered
      FROM base b JOIN mu ON b.p = mu.p CROSS JOIN q WHERE b.fold = 2)
    SELECT CAST(min(q.n_calib) AS BIGINT) AS n_calib,
           CAST(count(*) AS BIGINT) AS n_test,
           round(min(q.qhat) + 1e-9, 4) AS qhat,
           round(avg(covered) + 1e-9, 6) AS coverage
    FROM test CROSS JOIN q
    """,
)
def conformal_interval_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval for order value: fold 0
    (orderkey mod 3) fits the per-priority mean model, fold 1 computes
    the 0.9-quantile q̂ of absolute residuals (the conformal score), and
    fold 2 reports empirical coverage of pred ± q̂ — the distribution-
    free ~90% guarantee that holds regardless of the model. The
    uncertainty wrapper a platform puts around any point predictor; the
    discrete quantile (quantile_disc / percentile with exact rank) keeps
    both engines on the identical order statistic.

    Scale shape: the 'model' is a 5-row broadcast dim; calibration is
    one aggregate; coverage is one more scan — three passes, no
    all-pairs anything."""
    o = Tables(spark, sf_dir).orders
    base = o.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("p"),
        F.col("o_totalprice").alias("y"),
        (F.col("o_orderkey") % 3).alias("fold"),
    )
    mu = base.filter(F.col("fold") == 0).groupBy("p").agg(
        F.avg("y").alias("pred")
    )
    calib = (
        base.filter(F.col("fold") == 1)
        .join(F.broadcast(mu), "p")
        .select(F.abs(F.col("y") - F.col("pred")).alias("score"))
    )
    q = calib.agg(
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY score)").alias(
            "qhat"
        ),
        F.count(F.lit(1)).alias("n_calib"),
    )
    test = (
        base.filter(F.col("fold") == 2)
        .join(F.broadcast(mu), "p")
        .crossJoin(F.broadcast(q))
        .select(
            F.when(
                F.abs(F.col("y") - F.col("pred")) <= F.col("qhat"), 1.0
            )
            .otherwise(0.0)
            .alias("covered"),
            "n_calib",
            "qhat",
        )
    )
    return test.agg(
        F.min("n_calib").alias("n_calib"),
        F.count(F.lit(1)).alias("n_test"),
        F.round(F.min("qhat") + 1e-9, 4).alias("qhat"),
        F.round(F.avg("covered") + 1e-9, 6).alias("coverage"),
    )


# ---------------------------------------------------------------------------
# Causal measurement: IPTW ATE, regression discontinuity, interrupted TS
# ---------------------------------------------------------------------------


@query(
    "iptw_ate_urgent_revenue",
    oracle="""
    WITH base AS (
      SELECT c.c_mktsegment AS s,
             CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END
               AS tr,
             o.o_totalprice AS y
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
    e AS (SELECT s, avg(tr) AS ps FROM base GROUP BY s),
    w AS (
      SELECT b.tr, b.y,
             CASE WHEN b.tr = 1.0 THEN 1.0 / e.ps
                  ELSE 1.0 / (1.0 - e.ps) END AS wt
      FROM base b JOIN e ON b.s = e.s)
    SELECT CAST(count(*) AS BIGINT) AS n,
           round(sum(CASE WHEN tr = 1.0 THEN wt * y ELSE 0 END)
                 / sum(CASE WHEN tr = 1.0 THEN wt ELSE 0 END)
               - sum(CASE WHEN tr = 0.0 THEN wt * y ELSE 0 END)
                 / sum(CASE WHEN tr = 0.0 THEN wt ELSE 0 END) + 1e-9, 4)
             AS ate_hajek,
           round(avg(CASE WHEN tr = 1.0 THEN y END)
               - avg(CASE WHEN tr = 0.0 THEN y END) + 1e-9, 4) AS naive_diff,
           round(max(wt) + 1e-9, 4) AS max_weight
    FROM w
    """,
)
def iptw_ate_urgent_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average treatment effect of URGENT order priority on order value
    via inverse-propensity-of-treatment weighting: propensity e(x) =
    P(urgent | market segment) estimated per stratum, Hájek
    (self-normalized) estimator Σwᵢyᵢ/Σwᵢ per arm — the standard
    observational-causal correction when treatment assignment varies by
    a measured confounder. Reports the naive difference beside the ATE
    so the confounding correction is visible, plus the max weight (the
    positivity/overlap diagnostic a practitioner always checks).

    Scale shape: fact⋈dim join, a 5-row propensity dim broadcast back,
    one weighted aggregate — two scans of orders, no per-row state."""
    t = Tables(spark, sf_dir)
    base = t.orders.join(
        t.customer, F.col("o_custkey") == F.col("c_custkey")
    ).select(
        F.col("c_mktsegment").alias("s"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1.0)
        .otherwise(0.0)
        .alias("tr"),
        F.col("o_totalprice").alias("y"),
    )
    e = base.groupBy("s").agg(F.avg("tr").alias("ps"))
    w = base.join(F.broadcast(e), "s").select(
        "tr",
        "y",
        F.when(F.col("tr") == 1.0, 1.0 / F.col("ps"))
        .otherwise(1.0 / (1.0 - F.col("ps")))
        .alias("wt"),
    )
    t1 = F.sum(F.when(F.col("tr") == 1.0, F.col("wt") * F.col("y")).otherwise(0))
    w1 = F.sum(F.when(F.col("tr") == 1.0, F.col("wt")).otherwise(0))
    t0 = F.sum(F.when(F.col("tr") == 0.0, F.col("wt") * F.col("y")).otherwise(0))
    w0 = F.sum(F.when(F.col("tr") == 0.0, F.col("wt")).otherwise(0))
    return w.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(t1 / w1 - t0 / w0 + 1e-9, 4).alias("ate_hajek"),
        F.round(
            F.avg(F.when(F.col("tr") == 1.0, F.col("y")))
            - F.avg(F.when(F.col("tr") == 0.0, F.col("y")))
            + 1e-9,
            4,
        ).alias("naive_diff"),
        F.round(F.max("wt") + 1e-9, 4).alias("max_weight"),
    )


@query(
    "rdd_acctbal_threshold",
    oracle="""
    WITH base AS (
      SELECT c.c_acctbal AS x,
             CASE WHEN c.c_acctbal >= 0 THEN 1 ELSE 0 END AS side,
             o.o_totalprice AS y
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_acctbal BETWEEN -3000 AND 3000),
    fits AS (
      SELECT side, count(*) AS n,
             regr_intercept(y, x) AS a, regr_slope(y, x) AS b
      FROM base GROUP BY side)
    SELECT CAST(sum(n) AS BIGINT) AS n_window,
           round(max(CASE WHEN side = 1 THEN a END)
               - max(CASE WHEN side = 0 THEN a END) + 1e-9, 4) AS rd_effect,
           round(max(CASE WHEN side = 0 THEN a END) + 1e-9, 4) AS left_limit,
           round(max(CASE WHEN side = 1 THEN a END) + 1e-9, 4) AS right_limit,
           round(max(CASE WHEN side = 1 THEN b END)
               - max(CASE WHEN side = 0 THEN b END) + 1e-9, 6) AS slope_change
    FROM fits
    """,
)
def rdd_acctbal_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharp regression-discontinuity estimate at the zero-balance
    cutoff: within a ±3000 bandwidth of c_acctbal = 0, fit a separate
    local linear regression of order value on the running variable per
    side; the RD effect is the jump between the two intercepts (the
    limits of the fits at the cutoff). The design a platform uses to
    measure a threshold rule's causal effect (credit gates, quality
    score cutoffs) without an experiment.

    Scale shape: bandwidth filter pushes to the scan; per-side OLS is
    one partial-agg groupBy over co-moments (regr_slope/intercept are
    single-pass); output is a 1-row pivot of a 2-row frame."""
    t = Tables(spark, sf_dir)
    base = (
        t.orders.join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .where(F.col("c_acctbal").between(-3000, 3000))
        .select(
            F.col("c_acctbal").alias("x"),
            F.when(F.col("c_acctbal") >= 0, 1).otherwise(0).alias("side"),
            F.col("o_totalprice").alias("y"),
        )
    )
    fits = base.groupBy("side").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("regr_intercept(y, x)").alias("a"),
        F.expr("regr_slope(y, x)").alias("b"),
    )
    a1 = F.max(F.when(F.col("side") == 1, F.col("a")))
    a0 = F.max(F.when(F.col("side") == 0, F.col("a")))
    b1 = F.max(F.when(F.col("side") == 1, F.col("b")))
    b0 = F.max(F.when(F.col("side") == 0, F.col("b")))
    return fits.agg(
        F.sum("n").alias("n_window"),
        F.round(a1 - a0 + 1e-9, 4).alias("rd_effect"),
        F.round(a0 + 1e-9, 4).alias("left_limit"),
        F.round(a1 + 1e-9, 4).alias("right_limit"),
        F.round(b1 - b0 + 1e-9, 6).alias("slope_change"),
    )


@query(
    "its_segmented_daily_revenue",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_diff('day', TIMESTAMP '2024-01-01', ts) AS DOUBLE)
               AS t,
             sum(value) AS y
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
    seg AS (
      SELECT t, y,
             CASE WHEN t >= 15 THEN 1.0 ELSE 0.0 END AS post,
             CASE WHEN t >= 15 THEN t - 15.0 ELSE 0.0 END AS tpost
      FROM daily),
    m AS (
      SELECT count(*) AS n, avg(t) AS mt, avg(y) AS my, avg(post) AS mp,
             avg(tpost) AS mtp,
             covar_pop(t, y) AS sty, covar_pop(post, y) AS spy,
             covar_pop(tpost, y) AS stpy,
             var_pop(t) AS stt, var_pop(post) AS spp, var_pop(tpost) AS stptp,
             covar_pop(t, post) AS stp, covar_pop(t, tpost) AS sttp,
             covar_pop(post, tpost) AS sptp
      FROM seg),
    sol AS (
      SELECT n, mt, my, mp, mtp,
             stt * (spp * stptp - sptp * sptp)
           - stp * (stp * stptp - sptp * sttp)
           + sttp * (stp * sptp - spp * sttp) AS det,
             sty * (spp * stptp - sptp * sptp)
           - stp * (spy * stptp - sptp * stpy)
           + sttp * (spy * sptp - spp * stpy) AS det1,
             stt * (spy * stptp - sptp * stpy)
           - sty * (stp * stptp - sptp * sttp)
           + sttp * (stp * stpy - spy * sttp) AS det2,
             stt * (spp * stpy - spy * sptp)
           - stp * (stp * stpy - spy * sttp)
           + sty * (stp * sptp - spp * sttp) AS det3
      FROM m)
    SELECT CAST(n AS BIGINT) AS n_days,
           round(det1 / det + 1e-9, 4) AS base_slope,
           round(det2 / det + 1e-9, 4) AS level_change,
           round(det3 / det + 1e-9, 4) AS slope_change,
           round(my - (det1 / det) * mt - (det2 / det) * mp
                 - (det3 / det) * mtp + 1e-9, 4) AS intercept
    FROM sol
    """,
)
def its_segmented_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interrupted time-series (segmented) regression of daily purchase
    revenue around the day-15 intervention: y = a + b·t + c·post +
    d·(t−t₀)·post, solved exactly via Cramer's rule on the 3×3 centered
    normal equations (covariances of t, post, t·post) — b is the
    pre-trend, c the immediate level change, d the slope change. The
    design for 'we changed the pipeline on day X — did the metric's
    level or trajectory move?' when no concurrent control exists
    (complements the staged-r11 DiD, which needs one).

    Scale shape: one groupBy(day) then a single pass of co-moments over
    the (tiny) daily frame; the 3×3 solve is scalar math in the plan."""
    e = Tables(spark, sf_dir).events.filter(F.col("event_type") == "purchase")
    daily = e.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("double")
        .alias("t")
    ).agg(F.sum("value").alias("y"))
    seg = daily.select(
        "t",
        "y",
        F.when(F.col("t") >= 15, 1.0).otherwise(0.0).alias("post"),
        F.when(F.col("t") >= 15, F.col("t") - 15.0).otherwise(0.0).alias("tpost"),
    )
    m = seg.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("t").alias("mt"),
        F.avg("y").alias("my"),
        F.avg("post").alias("mp"),
        F.avg("tpost").alias("mtp"),
        F.covar_pop("t", "y").alias("sty"),
        F.covar_pop("post", "y").alias("spy"),
        F.covar_pop("tpost", "y").alias("stpy"),
        F.var_pop("t").alias("stt"),
        F.var_pop("post").alias("spp"),
        F.var_pop("tpost").alias("stptp"),
        F.covar_pop("t", "post").alias("stp"),
        F.covar_pop("t", "tpost").alias("sttp"),
        F.covar_pop("post", "tpost").alias("sptp"),
    )
    det = (
        F.col("stt") * (F.col("spp") * F.col("stptp") - F.col("sptp") * F.col("sptp"))
        - F.col("stp")
        * (F.col("stp") * F.col("stptp") - F.col("sptp") * F.col("sttp"))
        + F.col("sttp")
        * (F.col("stp") * F.col("sptp") - F.col("spp") * F.col("sttp"))
    )
    det1 = (
        F.col("sty") * (F.col("spp") * F.col("stptp") - F.col("sptp") * F.col("sptp"))
        - F.col("stp")
        * (F.col("spy") * F.col("stptp") - F.col("sptp") * F.col("stpy"))
        + F.col("sttp")
        * (F.col("spy") * F.col("sptp") - F.col("spp") * F.col("stpy"))
    )
    det2 = (
        F.col("stt") * (F.col("spy") * F.col("stptp") - F.col("sptp") * F.col("stpy"))
        - F.col("sty")
        * (F.col("stp") * F.col("stptp") - F.col("sptp") * F.col("sttp"))
        + F.col("sttp")
        * (F.col("stp") * F.col("stpy") - F.col("spy") * F.col("sttp"))
    )
    det3 = (
        F.col("stt") * (F.col("spp") * F.col("stpy") - F.col("spy") * F.col("sptp"))
        - F.col("stp")
        * (F.col("stp") * F.col("stpy") - F.col("spy") * F.col("sttp"))
        + F.col("sty")
        * (F.col("stp") * F.col("sptp") - F.col("spp") * F.col("sttp"))
    )
    b = det1 / det
    c = det2 / det
    d = det3 / det
    return m.select(
        F.col("n").alias("n_days"),
        F.round(b + 1e-9, 4).alias("base_slope"),
        F.round(c + 1e-9, 4).alias("level_change"),
        F.round(d + 1e-9, 4).alias("slope_change"),
        F.round(
            F.col("my") - b * F.col("mt") - c * F.col("mp") - d * F.col("mtp")
            + 1e-9,
            4,
        ).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# Survival / spectral / serial-dependence closures
# ---------------------------------------------------------------------------


@query(
    "weibull_fit_time_to_purchase",
    oracle="""
    WITH su AS (
      SELECT user_id, min(ts) AS t0 FROM events
      WHERE event_type = 'signup' GROUP BY user_id),
    pu AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'purchase' GROUP BY user_id),
    d AS (
      SELECT ln((epoch_us(pu.t1) - epoch_us(su.t0)) / 3.6e9) AS lx
      FROM su JOIN pu ON su.user_id = pu.user_id
      WHERE pu.t1 > su.t0),
    r AS (
      SELECT lx,
             row_number() OVER (ORDER BY lx) AS i,
             count(*) OVER () AS n
      FROM d),
    lin AS (
      SELECT lx AS x,
             ln(-ln(1.0 - (i - 0.3) / (n + 0.4))) AS yy, n
      FROM r),
    fit AS (
      SELECT min(n) AS n, regr_slope(yy, x) AS k,
             regr_intercept(yy, x) AS c
      FROM lin)
    SELECT CAST(n AS BIGINT) AS n_durations,
           round(k + 1e-9, 6) AS shape_k,
           round(exp(-c / k) + 1e-9, 4) AS scale_hours,
           round(exp(-c / k) * pow(ln(2.0), 1.0 / k) + 1e-9, 4)
             AS median_hours
    FROM fit
    """,
)
def weibull_fit_time_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weibull fit of signup→first-purchase latency by median-rank
    regression (the probability-plot / Weibull-paper method): with
    F̂ᵢ = (i−0.3)/(n+0.4) (Benard's approximation), ln(−ln(1−F̂)) is
    linear in ln t with slope = shape k and intercept −k·ln λ; the
    median is λ·(ln 2)^(1/k) (the Γ-free closed form — Spark SQL exposes
    no gamma function, so the reported central summary is the median).
    k < 1 = decelerating conversion hazard (users
    who haven't converted become ever less likely to), k > 1 = wear-in.
    Complements the registered ``interarrival_exponential_fit`` (the
    k = 1 special case) and the Kaplan-Meier/Nelson-Aalen pair
    (nonparametric; this is the parametric summary).

    Scale shape: two self-aggregations of events (min per user), one
    join on user_id, a distributed rank (global sort of the duration
    frame — user-sized, not event-sized), then single-pass OLS
    co-moments."""
    e = Tables(spark, sf_dir).events
    su = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    pu = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    from ror_etl_spark.operators.util import global_cumsum

    d = (
        su.join(pu, "user_id")
        .where(F.col("t1") > F.col("t0"))
        .select(
            "user_id",
            F.log(
                (epoch_us(F.col("t1")) - epoch_us(F.col("t0"))) / 3.6e9
            ).alias("lx"),
            F.lit(1).alias("one"),
        )
    )
    # Distributed median rank: exclusive cumsum over (lx, user_id) — the
    # user_id tiebreak makes the order total (equal durations get
    # adjacent ranks; the plotting positions are internal-order-
    # invariant), and no single-task global window appears. n rides a
    # broadcast scalar.
    parts = max(su.sparkSession.sparkContext.defaultParallelism, 8)
    nn = d.agg(F.count(F.lit(1)).alias("n"))
    r = global_cumsum(
        d, ["lx", "user_id"], "one", out="prior_n", n_parts=parts
    ).crossJoin(F.broadcast(nn)).select(
        "lx", (F.col("prior_n") + 1).alias("i"), "n"
    )
    lin = r.select(
        F.col("lx").alias("x"),
        F.log(-F.log(1.0 - (F.col("i") - 0.3) / (F.col("n") + 0.4))).alias("yy"),
        "n",
    )
    fit = lin.agg(
        F.min("n").alias("n"),
        F.expr("regr_slope(yy, x)").alias("k"),
        F.expr("regr_intercept(yy, x)").alias("c"),
    )
    lam = F.exp(-F.col("c") / F.col("k"))
    return fit.select(
        F.col("n").alias("n_durations"),
        F.round(F.col("k") + 1e-9, 6).alias("shape_k"),
        F.round(lam + 1e-9, 4).alias("scale_hours"),
        F.round(
            lam * F.pow(F.log(F.lit(2.0)), 1.0 / F.col("k")) + 1e-9, 4
        ).alias("median_hours"),
    )


@query(
    "spectral_entropy_daily_revenue",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_diff('day', TIMESTAMP '2024-01-01', ts) AS BIGINT)
               AS t,
             sum(value) AS y
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
    c AS (SELECT count(*) AS n, avg(y) AS mu FROM daily),
    freqs AS (
      SELECT unnest(range(1, 15)) AS f),
    dft AS (
      SELECT f.f AS f,
             sum((d.y - c.mu) * cos(2 * pi() * f.f * d.t / c.n)) AS re,
             sum((d.y - c.mu) * sin(2 * pi() * f.f * d.t / c.n)) AS im
      FROM freqs f CROSS JOIN daily d CROSS JOIN c
      GROUP BY f.f),
    pw AS (SELECT f, re * re + im * im AS p FROM dft),
    tot AS (SELECT sum(p) AS sp FROM pw),
    ent AS (
      SELECT -sum((p / sp) * ln(p / sp)) AS h, count(*) AS nf
      FROM pw CROSS JOIN tot WHERE p > 0)
    SELECT CAST(nf AS BIGINT) AS n_freqs,
           round(h + 1e-9, 6) AS spectral_entropy,
           round(h / ln(CAST(nf AS DOUBLE)) + 1e-9, 6) AS normalized_entropy
    FROM ent
    """,
)
def spectral_entropy_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral entropy of the daily purchase-revenue series: Shannon
    entropy of the normalized DFT power spectrum over frequencies
    1..14 (mean removed, so no DC term) — near 0 when one periodicity
    dominates (strong weekly seasonality), near 1 (normalized) for
    white noise. The one-number 'is this series structured or noise'
    screen that complements the registered ``dft_weekly_power``
    (single-frequency energy) and ``seasonal_strength_weekday``.

    Scale shape: the daily frame is tiny after the first groupBy; the
    DFT is a 14×n_days broadcast cross join aggregated per frequency —
    at 100 TB the only data-sized pass is the daily rollup itself."""
    import math as _math

    e = Tables(spark, sf_dir).events.filter(F.col("event_type") == "purchase")
    daily = e.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("t")
    ).agg(F.sum("value").alias("y"))
    c = daily.agg(F.count(F.lit(1)).alias("n"), F.avg("y").alias("mu"))
    freqs = spark.range(1, 15).select(F.col("id").alias("f"))
    two_pi = 2.0 * _math.pi
    dft = (
        F.broadcast(freqs)
        .crossJoin(daily)
        .crossJoin(F.broadcast(c))
        .groupBy("f")
        .agg(
            F.sum(
                (F.col("y") - F.col("mu"))
                * F.cos(two_pi * F.col("f") * F.col("t") / F.col("n"))
            ).alias("re"),
            F.sum(
                (F.col("y") - F.col("mu"))
                * F.sin(two_pi * F.col("f") * F.col("t") / F.col("n"))
            ).alias("im"),
        )
    )
    pw = dft.select(
        "f", (F.col("re") * F.col("re") + F.col("im") * F.col("im")).alias("p")
    )
    tot = pw.agg(F.sum("p").alias("sp"))
    ent = (
        pw.crossJoin(F.broadcast(tot))
        .where(F.col("p") > 0)
        .agg(
            (-F.sum((F.col("p") / F.col("sp")) * F.log(F.col("p") / F.col("sp"))))
            .alias("h"),
            F.count(F.lit(1)).alias("nf"),
        )
    )
    return ent.select(
        F.col("nf").alias("n_freqs"),
        F.round(F.col("h") + 1e-9, 6).alias("spectral_entropy"),
        F.round(
            F.col("h") / F.log(F.col("nf").cast("double")) + 1e-9, 6
        ).alias("normalized_entropy"),
    )


@query(
    "yule_walker_ar2_daily",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_diff('day', TIMESTAMP '2024-01-01', ts) AS BIGINT)
               AS t,
             sum(value) AS y
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
    c AS (SELECT avg(y) AS mu, var_pop(y) AS v, count(*) AS n FROM daily),
    lags AS (
      SELECT a.t, (a.y - c.mu) AS y0,
             (b1.y - c.mu) AS y1, (b2.y - c.mu) AS y2
      FROM daily a
      JOIN daily b1 ON b1.t = a.t - 1
      JOIN daily b2 ON b2.t = a.t - 2
      CROSS JOIN c),
    rr AS (
      SELECT sum(y0 * y1) / (min(c.v) * min(c.n)) AS r1,
             sum(y0 * y2) / (min(c.v) * min(c.n)) AS r2,
             min(c.n) AS n
      FROM lags CROSS JOIN c)
    SELECT CAST(n AS BIGINT) AS n_days,
           round(r1 + 1e-9, 6) AS r1,
           round(r2 + 1e-9, 6) AS r2,
           round(r1 * (1 - r2) / (1 - r1 * r1) + 1e-9, 6) AS phi1,
           round((r2 - r1 * r1) / (1 - r1 * r1) + 1e-9, 6) AS phi2
    FROM rr
    """,
)
def yule_walker_ar2_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(2) coefficients for daily purchase revenue via the Yule-Walker
    equations: φ₁ = r₁(1−r₂)/(1−r₁²), φ₂ = (r₂−r₁²)/(1−r₁²) from the
    lag-1/lag-2 autocorrelations (biased n-denominator estimates, the
    standard YW convention — guarantees a stationary fit). φ₂ < 0 with
    φ₁ > 0 indicates mean-reverting oscillation; extends the registered
    ``ar1_forecast_backtest_daily`` one order up without iterative
    fitting. Autocorrelations via self-joins on the day index (exact,
    no window-frame edge semantics to match across engines).

    Scale shape: data-sized work is the daily rollup; the lag joins run
    on the tiny daily frame."""
    e = Tables(spark, sf_dir).events.filter(F.col("event_type") == "purchase")
    daily = e.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("t")
    ).agg(F.sum("value").alias("y"))
    c = daily.agg(
        F.avg("y").alias("mu"), F.var_pop("y").alias("v"), F.count(F.lit(1)).alias("n")
    )
    a = daily.alias("a")
    b1 = daily.select(F.col("t").alias("t1"), F.col("y").alias("yb1"))
    b2 = daily.select(F.col("t").alias("t2"), F.col("y").alias("yb2"))
    lags = (
        a.join(b1, F.col("t1") == F.col("t") - 1)
        .join(b2, F.col("t2") == F.col("t") - 2)
        .crossJoin(F.broadcast(c))
        .select(
            (F.col("y") - F.col("mu")).alias("y0"),
            (F.col("yb1") - F.col("mu")).alias("y1"),
            (F.col("yb2") - F.col("mu")).alias("y2"),
            "v",
            "n",
        )
    )
    rr = lags.agg(
        (F.sum(F.col("y0") * F.col("y1")) / (F.min("v") * F.min("n"))).alias("r1"),
        (F.sum(F.col("y0") * F.col("y2")) / (F.min("v") * F.min("n"))).alias("r2"),
        F.min("n").alias("n"),
    )
    return rr.select(
        F.col("n").alias("n_days"),
        F.round(F.col("r1") + 1e-9, 6).alias("r1"),
        F.round(F.col("r2") + 1e-9, 6).alias("r2"),
        F.round(
            F.col("r1") * (1 - F.col("r2")) / (1 - F.col("r1") * F.col("r1"))
            + 1e-9,
            6,
        ).alias("phi1"),
        F.round(
            (F.col("r2") - F.col("r1") * F.col("r1"))
            / (1 - F.col("r1") * F.col("r1"))
            + 1e-9,
            6,
        ).alias("phi2"),
    )


@query(
    "poisson_two_rate_test",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_diff('day', TIMESTAMP '2024-01-01', ts) AS BIGINT)
               AS d, count(*) AS k
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
    half AS (
      SELECT CASE WHEN d < 15 THEN 0 ELSE 1 END AS h,
             sum(k) AS events, count(*) AS days
      FROM daily GROUP BY 1),
    agg AS (
      SELECT max(CASE WHEN h = 0 THEN events END) AS k1,
             max(CASE WHEN h = 0 THEN days END) AS t1,
             max(CASE WHEN h = 1 THEN events END) AS k2,
             max(CASE WHEN h = 1 THEN days END) AS t2
      FROM half)
    SELECT CAST(k1 AS BIGINT) AS events_first_half,
           CAST(k2 AS BIGINT) AS events_second_half,
           round(CAST(k1 AS DOUBLE) / t1 + 1e-9, 4) AS rate1,
           round(CAST(k2 AS DOUBLE) / t2 + 1e-9, 4) AS rate2,
           round((CAST(k2 AS DOUBLE) / t2) / (CAST(k1 AS DOUBLE) / t1)
                 + 1e-9, 6) AS rate_ratio,
           round((k1 - (k1 + k2) * (t1 * 1.0 / (t1 + t2)))
                 / sqrt((k1 + k2) * (t1 * 1.0 / (t1 + t2))
                        * (1 - t1 * 1.0 / (t1 + t2))) + 1e-9, 6) AS z
    FROM agg
    """,
)
def poisson_two_rate_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Poisson rate comparison (purchase arrivals, first vs
    second half of the month) via the conditional binomial test: given
    K = k₁+k₂ total events, k₁ ~ Binomial(K, t₁/(t₁+t₂)) under H₀ of
    equal rates — the z-statistic is the normal approximation to that
    exact conditional law (the standard epidemiology/SRE incidence-rate
    test). Reports both rates, their ratio, and z.

    Scale shape: one partial-agg groupBy(day), a 2-row pivot, scalar
    math — nothing else touches data."""
    e = Tables(spark, sf_dir).events.filter(F.col("event_type") == "purchase")
    daily = e.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("d")
    ).agg(F.count(F.lit(1)).alias("k"))
    half = daily.groupBy(
        F.when(F.col("d") < 15, 0).otherwise(1).alias("h")
    ).agg(F.sum("k").alias("events"), F.count(F.lit(1)).alias("days"))
    agg = half.agg(
        F.max(F.when(F.col("h") == 0, F.col("events"))).alias("k1"),
        F.max(F.when(F.col("h") == 0, F.col("days"))).alias("t1"),
        F.max(F.when(F.col("h") == 1, F.col("events"))).alias("k2"),
        F.max(F.when(F.col("h") == 1, F.col("days"))).alias("t2"),
    )
    p = F.col("t1") * 1.0 / (F.col("t1") + F.col("t2"))
    ktot = F.col("k1") + F.col("k2")
    return agg.select(
        F.col("k1").alias("events_first_half"),
        F.col("k2").alias("events_second_half"),
        F.round(F.col("k1").cast("double") / F.col("t1") + 1e-9, 4).alias("rate1"),
        F.round(F.col("k2").cast("double") / F.col("t2") + 1e-9, 4).alias("rate2"),
        F.round(
            (F.col("k2").cast("double") / F.col("t2"))
            / (F.col("k1").cast("double") / F.col("t1"))
            + 1e-9,
            6,
        ).alias("rate_ratio"),
        F.round(
            (F.col("k1") - ktot * p) / F.sqrt(ktot * p * (1 - p)) + 1e-9, 6
        ).alias("z"),
    )


@query(
    "anderson_darling_click_purchase",
    oracle="""
    WITH s AS (
      SELECT value AS v,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_a
      FROM events WHERE event_type IN ('click', 'purchase')),
    r AS (
      SELECT is_a,
             row_number() OVER (ORDER BY v, is_a) AS i,
             sum(is_a) OVER (ORDER BY v, is_a
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ma
      FROM s),
    c AS (
      SELECT CAST(sum(is_a) AS DOUBLE) AS m,
             CAST(count(*) AS DOUBLE) AS n
      FROM s),
    terms AS (
      SELECT (r.ma * c.n - r.i * c.m) * (r.ma * c.n - r.i * c.m)
               / (r.i * (c.n - r.i)) AS term
      FROM r CROSS JOIN c WHERE r.i < c.n),
    a2 AS (
      SELECT sum(term) AS s FROM terms)
    SELECT CAST(c.m AS BIGINT) AS n_click,
           CAST(c.n - c.m AS BIGINT) AS n_purchase,
           round(a2.s / (c.m * (c.n - c.m)) + 1e-9, 6) AS ad_statistic
    FROM a2 CROSS JOIN c
    """,
)
def anderson_darling_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Anderson-Darling statistic (Pettitt's computing
    formula for the no-ties rank form): A² = (1/(m·(n−m))) ·
    Σᵢ₌₁ⁿ⁻¹ (Mᵢn − i·m)²/(i(n−i)), where Mᵢ counts sample-A members
    among the i smallest pooled values. Weights the CDF discrepancy by
    1/(F(1−F)) — far more tail-sensitive than KS (registered
    ``ks_test_value_click_purchase``) and than CVM (staged r11), which
    this completes into the EDF-test trio. Deterministic is_a tiebreak
    in the pooled order keeps both engines on one ranking.

    Scale shape: the pooled rank and running count ride ONE ordered
    pass (at driver scale the frame is the filtered two-sample slice);
    the quadratic-looking formula is a linear scan, no pairs
    materialize."""
    from ror_etl_spark.operators.util import global_cumsum

    e = Tables(spark, sf_dir).events.filter(
        F.col("event_type").isin("click", "purchase")
    )
    s = e.select(
        "event_id",
        F.col("value").alias("v"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("is_a"),
        F.lit(1).alias("one"),
    )
    # Distributed pooled rank + running class count: ONE global_cumsum
    # over the total order (v, is_a, event_id) computes both exclusive
    # sums (the single-task Window.orderBy anti-pattern never appears).
    # The event_id tiebreak changes nothing: within a (v, is_a) tie
    # group the multiset of (i, Mi) pairs — and so the A2 sum — is
    # internal-order-invariant, which is why the oracle's (v, is_a)
    # row_number matches exactly.
    parts = max(e.sparkSession.sparkContext.defaultParallelism, 8)
    r = global_cumsum(
        s,
        ["v", "is_a", "event_id"],
        ["one", "is_a"],
        out=["prior_n", "prior_a"],
        n_parts=parts,
    ).select(
        "is_a",
        (F.col("prior_n") + 1).alias("i"),
        (F.col("prior_a") + F.col("is_a")).alias("ma"),
    )
    c = s.agg(
        F.sum("is_a").cast("double").alias("m"),
        F.count(F.lit(1)).cast("double").alias("n"),
    )
    terms = (
        r.crossJoin(F.broadcast(c))
        .where(F.col("i") < F.col("n"))
        .select(
            (
                (F.col("ma") * F.col("n") - F.col("i") * F.col("m"))
                * (F.col("ma") * F.col("n") - F.col("i") * F.col("m"))
                / (F.col("i") * (F.col("n") - F.col("i")))
            ).alias("term"),
            "m",
            "n",
        )
    )
    return terms.agg(
        F.min("m").cast("long").alias("n_click"),
        (F.min("n") - F.min("m")).cast("long").alias("n_purchase"),
        F.round(
            F.sum("term") / (F.min("m") * (F.min("n") - F.min("m"))) + 1e-9, 6
        ).alias("ad_statistic"),
    )


@query(
    "eb_shrunk_source_rates",
    oracle="""
    WITH s AS (
      SELECT source, CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END) AS DOUBLE)
               AS k
      FROM documents GROUP BY source),
    mom AS (
      SELECT avg(k / n) AS pbar,
             var_samp(k / n) AS s2,
             avg(n) AS nbar
      FROM s),
    prior AS (
      SELECT pbar, s2, nbar,
             CASE WHEN s2 > pbar * (1 - pbar) / nbar
                  THEN (pbar * (1 - pbar) / s2) - 1
                  ELSE nbar END AS m
      FROM mom)
    SELECT s.source AS source, CAST(s.n AS BIGINT) AS n_docs,
           round(s.k / s.n + 1e-9, 6) AS raw_rate,
           round((s.k + prior.m * prior.pbar) / (s.n + prior.m) + 1e-9, 6)
             AS shrunk_rate,
           round(prior.m + 1e-9, 4) AS prior_strength
    FROM s CROSS JOIN prior ORDER BY source
    """,
)
def eb_shrunk_source_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes (beta-binomial, method-of-moments) shrinkage of
    per-source quality-pass rates: the prior strength m is backed out of
    the across-source dispersion (m = p̄(1−p̄)/s² − 1 when the observed
    variance exceeds binomial noise, else fall back to n̄ — no signal to
    shrink against), and each source's posterior mean is (k + m·p̄) /
    (n + m). The fix for 'a 10-doc source with 10 passes ranks above a
    100k-doc source at 99.9%' — same inferential move as the staged-r11
    Wilson bound, but borrowing strength ACROSS groups instead of
    within-group confidence.

    Scale shape: one groupBy(source), a scalar moment pass over the
    (small) source frame, broadcast back — the corpus is scanned once."""
    d = Tables(spark, sf_dir).documents
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.when(F.col("n_chars") >= 300, 1).otherwise(0))
        .cast("double")
        .alias("k"),
    )
    mom = s.agg(
        F.avg(F.col("k") / F.col("n")).alias("pbar"),
        F.var_samp(F.col("k") / F.col("n")).alias("s2"),
        F.avg("n").alias("nbar"),
    )
    prior = mom.select(
        "pbar",
        F.when(
            F.col("s2") > F.col("pbar") * (1 - F.col("pbar")) / F.col("nbar"),
            (F.col("pbar") * (1 - F.col("pbar")) / F.col("s2")) - 1,
        )
        .otherwise(F.col("nbar"))
        .alias("m"),
    )
    return (
        s.crossJoin(F.broadcast(prior))
        .select(
            "source",
            F.col("n").cast("long").alias("n_docs"),
            F.round(F.col("k") / F.col("n") + 1e-9, 6).alias("raw_rate"),
            F.round(
                (F.col("k") + F.col("m") * F.col("pbar"))
                / (F.col("n") + F.col("m"))
                + 1e-9,
                6,
            ).alias("shrunk_rate"),
            F.round(F.col("m") + 1e-9, 4).alias("prior_strength"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Product-analytics state: DAU/WAU stickiness, session bounce depth
# ---------------------------------------------------------------------------


@query(
    "dau_wau_stickiness",
    oracle="""
    WITH d AS (
      SELECT CAST(date_diff('day', TIMESTAMP '2024-01-01', ts) AS BIGINT)
               AS day_idx,
             user_id
      FROM events),
    dau AS (
      SELECT day_idx, count(DISTINCT user_id) AS dau
      FROM d GROUP BY day_idx),
    wau AS (
      SELECT day_idx // 7 AS week_idx, count(DISTINCT user_id) AS wau
      FROM d GROUP BY 1)
    SELECT w.week_idx AS week_idx,
           CAST(w.wau AS BIGINT) AS wau,
           round(avg(a.dau) + 1e-9, 4) AS avg_dau,
           round(avg(a.dau) / w.wau + 1e-9, 6) AS stickiness
    FROM wau w JOIN dau a ON a.day_idx // 7 = w.week_idx
    GROUP BY w.week_idx, w.wau ORDER BY week_idx
    """,
)
def dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per week (the product-analytics engagement
    ratio: how much of the weekly audience shows up on an average day —
    1/7 = each user once a week, 1.0 = everyone daily). Distinct from
    the registered ``rolling_distinct_users_7d`` (a per-day trailing
    window count): this is the calendar-week cohort ratio PMs actually
    report.

    Scale shape: two distinct-count aggregates over (day|week, user) —
    both partial-agg friendly; the join runs on the tiny daily frame.
    At 100 TB the distinct-counts become the registered theta/HLL
    sketch rollups; this exact form is the oracle-checkable core."""
    e = Tables(spark, sf_dir).events
    d = e.select(
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("day_idx"),
        "user_id",
    )
    dau = d.groupBy("day_idx").agg(F.countDistinct("user_id").alias("dau"))
    wau = d.groupBy(
        (F.col("day_idx") / 7).cast("long").alias("week_idx")
    ).agg(F.countDistinct("user_id").alias("wau"))
    return (
        wau.join(
            dau, (F.col("day_idx") / 7).cast("long") == F.col("week_idx")
        )
        .groupBy("week_idx", "wau")
        .agg(
            F.round(F.avg("dau") + 1e-9, 4).alias("avg_dau"),
            F.round(F.avg("dau") / F.col("wau") + 1e-9, 6).alias("stickiness"),
        )
        .select("week_idx", "wau", "avg_dau", "stickiness")
        .orderBy("week_idx")
    )


@query(
    "session_bounce_depth",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN epoch_us(ts)
                    - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id)
                  > 1800000000 OR
                  lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                  IS NULL
                  THEN 1 ELSE 0 END AS is_start
      FROM events),
    sess AS (
      SELECT user_id, ts, event_id, event_type,
             sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM ordered),
    per AS (
      SELECT user_id, sid,
             min_by(event_type,
                    CAST(epoch_us(ts) AS HUGEINT) * 100000000000
                      + event_id) AS first_type,
             count(*) AS depth
      FROM sess GROUP BY user_id, sid)
    SELECT first_type,
           CAST(count(*) AS BIGINT) AS n_sessions,
           round(avg(CASE WHEN depth = 1 THEN 1.0 ELSE 0.0 END) + 1e-9, 6)
             AS bounce_rate,
           round(avg(CAST(depth AS DOUBLE)) + 1e-9, 4) AS avg_depth,
           CAST(max(depth) AS BIGINT) AS max_depth
    FROM per GROUP BY first_type ORDER BY first_type
    """,
)
def session_bounce_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate and depth by session ENTRY event type: sessionize
    with the standard 30-minute inactivity gap, then group sessions by
    their first event — a one-event session is a bounce. The
    landing-page quality report, keyed by what users arrived to do.
    Complements the registered ``sessionize_events`` (session stats)
    and ``funnel_signup_click_purchase`` (fixed path): this keys
    QUALITY on the entry point.

    Scale shape: the gap-and-cumsum sessionizer is two windows
    PARTITIONED BY user (parallel across users, the standard
    distributed sessionize), then a groupBy(user, sid) and a tiny
    groupBy(first_type). min_by picks the entry event without a third
    window pass; its key is the TOTAL order (ts, event_id) — two
    events sharing a session's minimum ts would otherwise let Spark
    and the oracle pick different first_type values (the oracle
    mirrors the tiebreak as the scalar epoch_us·1e11 + event_id,
    since DuckDB's min_by takes no struct keys)."""
    e = Tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = epoch_us(F.col("ts"))
    ordered = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            (us - F.lag(us).over(w) > 1_800_000_000)
            | F.lag(us).over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("is_start"),
    )
    sess = ordered.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum("is_start")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("sid"),
    )
    per = sess.groupBy("user_id", "sid").agg(
        F.min_by("event_type", F.struct("ts", "event_id")).alias("first_type"),
        F.count(F.lit(1)).alias("depth"),
    )
    return (
        per.groupBy("first_type")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.round(
                F.avg(F.when(F.col("depth") == 1, 1.0).otherwise(0.0)) + 1e-9, 6
            ).alias("bounce_rate"),
            F.round(F.avg(F.col("depth").cast("double")) + 1e-9, 4).alias(
                "avg_depth"
            ),
            F.max("depth").alias("max_depth"),
        )
        .orderBy("first_type")
    )


# ---------------------------------------------------------------------------
# Geo family over deterministic coordinates (Lehmer lat/lon per user)
# ---------------------------------------------------------------------------
#
# The test tables carry no geography, so the geo operators derive
# deterministic coordinates from user_id via the same two-step Lehmer
# stream both engines share: lat = u(key)·180 − 90, lon = u(key+7)·360 −
# 180. What matters is the OPERATOR shape (grid bucketing, broadcast
# haversine k-NN, bbox range join) — swap the synthetic columns for real
# lat/lon at deployment and nothing else changes.


def _geo_sql(table: str = "events") -> str:
    ulat = _lehmer_u_sql("user_id * 2 + 1")
    ulon = _lehmer_u_sql("user_id * 2 + 2")
    return (
        f"SELECT user_id, ({ulat}) * 180.0 - 90.0 AS lat,"
        f" ({ulon}) * 360.0 - 180.0 AS lon"
        f" FROM (SELECT DISTINCT user_id FROM {table})"
    )


def _geo_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Tables(spark, sf_dir).events
    users = e.select("user_id").distinct()
    return users.select(
        "user_id",
        (_lehmer_u(F.col("user_id") * 2 + 1) * 180.0 - 90.0).alias("lat"),
        (_lehmer_u(F.col("user_id") * 2 + 2) * 360.0 - 180.0).alias("lon"),
    )


@query(
    "geo_zorder_cell_counts",
    oracle=f"""
    WITH pts AS ({_geo_sql()}),
    cells AS (
      SELECT user_id,
             CAST(floor((lat + 90.0) / 180.0 * 16.0) AS BIGINT) AS gy,
             CAST(floor((lon + 180.0) / 360.0 * 16.0) AS BIGINT) AS gx
      FROM pts),
    clamped AS (
      SELECT user_id, least(gy, 15) AS gy, least(gx, 15) AS gx FROM cells),
    z AS (
      SELECT user_id, gy, gx,
             (gx & 1) + 2 * (gy & 1) + 4 * ((gx >> 1) & 1)
           + 8 * ((gy >> 1) & 1) + 16 * ((gx >> 2) & 1)
           + 32 * ((gy >> 2) & 1) + 64 * ((gx >> 3) & 1)
           + 128 * ((gy >> 3) & 1) AS zcell
      FROM clamped)
    SELECT zcell, CAST(min(gy) AS BIGINT) AS gy, CAST(min(gx) AS BIGINT) AS gx,
           CAST(count(*) AS BIGINT) AS n_users
    FROM z GROUP BY zcell ORDER BY n_users DESC, zcell LIMIT 25
    """,
)
def geo_zorder_cell_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) spatial cell assignment on a 16×16 lat/lon grid:
    interleave the 4-bit cell coordinates into a single Morton index —
    the locality-preserving key used to range-partition spatial data so
    near points land in near partitions (the same trick the registered
    ``zorder_cluster_key`` applies to tabular clustering, here in its
    native geographic habitat). Reports the 25 densest cells.

    Scale shape: pure per-row bit arithmetic (whole-stage codegen) into
    a groupBy(cell) with a top-k — no shuffle beyond the 256-key agg;
    the Morton key is exactly what a 100 TB deployment would
    repartitionByRange on."""
    pts = _geo_df(spark, sf_dir)
    gy = F.least(
        F.floor((F.col("lat") + 90.0) / 180.0 * 16.0).cast("long"), F.lit(15)
    )
    gx = F.least(
        F.floor((F.col("lon") + 180.0) / 360.0 * 16.0).cast("long"), F.lit(15)
    )
    cells = pts.select("user_id", gy.alias("gy"), gx.alias("gx"))
    zcell = (
        (F.col("gx").bitwiseAND(1))
        + 2 * (F.col("gy").bitwiseAND(1))
        + 4 * (F.shiftright("gx", 1).bitwiseAND(1))
        + 8 * (F.shiftright("gy", 1).bitwiseAND(1))
        + 16 * (F.shiftright("gx", 2).bitwiseAND(1))
        + 32 * (F.shiftright("gy", 2).bitwiseAND(1))
        + 64 * (F.shiftright("gx", 3).bitwiseAND(1))
        + 128 * (F.shiftright("gy", 3).bitwiseAND(1))
    )
    z = cells.select("user_id", "gy", "gx", zcell.alias("zcell"))
    return (
        z.groupBy("zcell")
        .agg(
            F.min("gy").alias("gy"),
            F.min("gx").alias("gx"),
            F.count(F.lit(1)).alias("n_users"),
        )
        .orderBy(F.desc("n_users"), F.asc("zcell"))
        .limit(25)
    )


@query(
    "geo_haversine_knn",
    oracle=f"""
    WITH pts AS ({_geo_sql()}),
    q AS (
      SELECT n_nationkey AS qid,
             (CAST(n_nationkey AS DOUBLE) * 7.0) - 84.0 AS qlat,
             (CAST(n_nationkey AS DOUBLE) * 14.3) - 170.0 AS qlon
      FROM nation),
    d AS (
      SELECT q.qid, p.user_id,
             2.0 * 6371.0 * asin(sqrt(
               pow(sin(radians(p.lat - q.qlat) / 2), 2)
               + cos(radians(q.qlat)) * cos(radians(p.lat))
                 * pow(sin(radians(p.lon - q.qlon) / 2), 2))) AS km
      FROM q CROSS JOIN pts p),
    r AS (
      SELECT qid, user_id, km,
             row_number() OVER (PARTITION BY qid ORDER BY km, user_id) AS rn
      FROM d)
    SELECT qid, CAST(rn AS BIGINT) AS rn, user_id,
           round(km + 1e-9, 3) AS km
    FROM r WHERE rn <= 3 ORDER BY qid, rn
    """,
)
def geo_haversine_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haversine k-nearest-neighbors: for each of 25 deterministic query
    points (one per nation), the 3 closest user locations by
    great-circle distance (R = 6371 km). The small-query-side spatial
    k-NN: BROADCAST the 25 queries against the big point table, compute
    the trig distance in whole-stage codegen, and take a per-query
    top-k — no all-pairs materialization (row_number over the per-query
    partition compiles to WindowGroupLimit rank pushdown).

    Scale shape: |points| × 25 flops map-side, then a k-bounded window;
    the 100 TB upgrade path swaps the cross join for the Z-order cell
    blocking of ``geo_zorder_cell_counts`` with ring expansion — the
    brute form here is the recall-1.0 oracle the blocked variant would
    be checked against (same pattern as the embedding ANN family)."""
    pts = _geo_df(spark, sf_dir)
    n = Tables(spark, sf_dir).nation
    q = n.select(
        F.col("n_nationkey").alias("qid"),
        (F.col("n_nationkey").cast("double") * 7.0 - 84.0).alias("qlat"),
        (F.col("n_nationkey").cast("double") * 14.3 - 170.0).alias("qlon"),
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
    d = F.broadcast(q).crossJoin(pts).select("qid", "user_id", km.alias("km"))
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
        .select("qid", F.col("rn").cast("long").alias("rn"), "user_id",
                F.round(F.col("km") + 1e-9, 3).alias("km"))
        .orderBy("qid", "rn")
    )


@query(
    "geo_bbox_containment_join",
    oracle=f"""
    WITH pts AS ({_geo_sql()}),
    box AS (
      SELECT n_nationkey AS box_id,
             (CAST(n_nationkey AS DOUBLE) * 6.0) - 80.0 AS lat_lo,
             (CAST(n_nationkey AS DOUBLE) * 6.0) - 50.0 AS lat_hi,
             (CAST(n_nationkey AS DOUBLE) * 13.0) - 170.0 AS lon_lo,
             (CAST(n_nationkey AS DOUBLE) * 13.0) - 110.0 AS lon_hi
      FROM nation)
    SELECT b.box_id AS box_id,
           CAST(count(p.user_id) AS BIGINT) AS n_inside,
           round(coalesce(avg(p.lat), 0.0) + 1e-9, 4) AS avg_lat,
           round(coalesce(avg(p.lon), 0.0) + 1e-9, 4) AS avg_lon
    FROM box b LEFT JOIN pts p
      ON p.lat BETWEEN b.lat_lo AND b.lat_hi
     AND p.lon BETWEEN b.lon_lo AND b.lon_hi
    GROUP BY b.box_id ORDER BY box_id
    """,
)
def geo_bbox_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounding-box containment join: 25 deterministic 30°×60° boxes
    (one per nation) LEFT-joined to the point table on the
    lat/lon range predicates, counting and centroid-ing the points each
    box contains — the rectangle-overlay primitive under geofencing,
    tile statistics, and map-reduce spatial rollups. LEFT join keeps
    empty boxes in the report (coalesced centroids), the edge a
    naive inner-join version silently drops.

    Scale shape: broadcast the 25 boxes; the range predicates evaluate
    map-side (BroadcastNestedLoopJoin on purpose — the small side is 25
    rows, so 'nested loop' means 25 comparisons per point in codegen,
    cheaper than any shuffle). The 100 TB path pre-buckets points by
    Z-cell and joins boxes to their covering cells first."""
    pts = _geo_df(spark, sf_dir)
    n = Tables(spark, sf_dir).nation
    box = n.select(
        F.col("n_nationkey").alias("box_id"),
        (F.col("n_nationkey").cast("double") * 6.0 - 80.0).alias("lat_lo"),
        (F.col("n_nationkey").cast("double") * 6.0 - 50.0).alias("lat_hi"),
        (F.col("n_nationkey").cast("double") * 13.0 - 170.0).alias("lon_lo"),
        (F.col("n_nationkey").cast("double") * 13.0 - 110.0).alias("lon_hi"),
    )
    joined = F.broadcast(box).join(
        pts,
        F.col("lat").between(F.col("lat_lo"), F.col("lat_hi"))
        & F.col("lon").between(F.col("lon_lo"), F.col("lon_hi")),
        "left",
    )
    return (
        joined.groupBy("box_id")
        .agg(
            F.count("user_id").alias("n_inside"),
            F.round(F.coalesce(F.avg("lat"), F.lit(0.0)) + 1e-9, 4).alias(
                "avg_lat"
            ),
            F.round(F.coalesce(F.avg("lon"), F.lit(0.0)) + 1e-9, 4).alias(
                "avg_lon"
            ),
        )
        .orderBy("box_id")
    )


# ---------------------------------------------------------------------------
# Closeness centrality (iterative multi-source BFS, recursive-CTE oracle)
# ---------------------------------------------------------------------------

_CLOSE_MAX = 8
_CLOSE_K = 3


@query(
    "closeness_centrality_trade",
    oracle=f"""
    WITH RECURSIVE
    edges AS (
      SELECT s.s_nationkey AS u, c.c_nationkey AS v, count(*) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE s.s_nationkey <> c.c_nationkey
      GROUP BY u, v),
    knn AS (
      SELECT u, v FROM (
        SELECT u, v,
               row_number() OVER (PARTITION BY u ORDER BY w DESC, v ASC) AS rn
        FROM edges)
      WHERE rn <= {_CLOSE_K}),
    lv(src, node, lvl) AS (
      SELECT u, u, 0 FROM (SELECT DISTINCT u FROM knn)
      UNION
      SELECT lv.src, h.v, lv.lvl + 1
      FROM lv JOIN knn h ON h.u = lv.node
      WHERE lv.lvl < {_CLOSE_MAX}),
    dist AS (
      SELECT src, node, min(lvl) AS d FROM lv GROUP BY src, node),
    cc AS (
      SELECT src, count(*) - 1 AS n_reached, sum(d) AS total_d
      FROM dist GROUP BY src)
    SELECT CAST(src AS BIGINT) AS nationkey,
           CAST(n_reached AS BIGINT) AS n_reached,
           CAST(total_d AS BIGINT) AS total_dist,
           round(CASE WHEN total_d > 0
                      THEN CAST(n_reached AS DOUBLE) / total_d
                      ELSE 0.0 END + 1e-9, 6) AS closeness
    FROM cc ORDER BY nationkey
    """,
)
def closeness_centrality_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closeness centrality of every nation on the sparsified (top-3
    out-edges) trade graph: C(u) = reached(u) / Σ_v d(u,v) — the
    harmonic-of-total-distance form restricted to the reachable set
    (Wasserman-Faust), computed by MULTI-SOURCE BFS: state is
    (src, node, dist), seeded with one row per source, expanded
    frontier-delta style so all 25 single-source BFS runs share each
    round's single edges join. Same graph contract as the registered
    ``bfs_levels_trade_graph`` (single source) and
    ``graph_diameter_trade`` (eccentricity max); closeness is the
    per-node average-distance inverse — the 'which hub ships everywhere
    fastest' ranking.

    Scale shape (r12 optimization round): the data-sized edge
    derivation (fact join + groupBy(u, v) + per-u WindowGroupLimit
    top-k) stays fully distributed; the sparsified graph is bounded at
    |nations|·k edges at ANY scale, so the multi-source frontier loop
    runs in one bounded Arrow kernel on the collected edge aggregate
    (``operators.boundedgraph.closeness_udf`` — integer hop arithmetic,
    exact, sources = the distinct-u seed) instead of _CLOSE_MAX rounds
    of join + min-aggregate + anti-join + two DISK_ONLY checkpoints +
    a driver isEmpty() action each over ≤625-row frames. At 100 TB you
    run the distributed landmark-BFS loop on the k-NN-sparsified entity
    graph (``bfs_distances_synthetic_10k`` keeps that evidence); this
    query's graph is node-domain-bounded by construction. Rounds
    bounded by _CLOSE_MAX = the oracle's recursion cap; the one float
    (the closeness ratio) stays a Spark expression."""
    from ror_etl_spark.operators.boundedgraph import closeness_udf

    t = Tables(spark, sf_dir)
    edges = (
        t.lineitem.join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(t.supplier, F.col("s_suppkey") == F.col("l_suppkey"))
        .where(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(F.col("s_nationkey").alias("u"), F.col("c_nationkey").alias("v"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    knn = (
        edges.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("u").orderBy(F.desc("w"), F.asc("v"))
            ),
        )
        .where(F.col("rn") <= _CLOSE_K)
        .select("u", "v")
    )
    one = knn.agg(F.collect_list(F.struct("u", "v")).alias("es"))
    closeness = closeness_udf(_CLOSE_MAX)
    return (
        one.select(F.explode(closeness(F.col("es"))).alias("r"))
        .select(
            F.col("r.src").cast("long").alias("nationkey"),
            F.col("r.n_reached").alias("n_reached"),
            F.col("r.total_d").alias("total_dist"),
            F.round(
                F.when(
                    F.col("r.total_d") > 0,
                    F.col("r.n_reached").cast("double") / F.col("r.total_d"),
                ).otherwise(0.0)
                + 1e-9,
                6,
            ).alias("closeness"),
        )
        # single partition (child of a single-row aggregate): a
        # partition-local sort IS the global sort; a plain orderBy would
        # range-sample and execute the Arrow kernel twice
        .coalesce(1)
        .sortWithinPartitions("nationkey")
    )


# ---------------------------------------------------------------------------
# Coverage estimation, index numbers, distributional effects, raking
# ---------------------------------------------------------------------------


@query(
    "capture_recapture_users",
    oracle="""
    WITH w1 AS (
      SELECT DISTINCT user_id FROM events
      WHERE ts < TIMESTAMP '2024-01-15'),
    w2 AS (
      SELECT DISTINCT user_id FROM events
      WHERE ts >= TIMESTAMP '2024-01-15'),
    c AS (
      SELECT (SELECT count(*) FROM w1) AS n1,
             (SELECT count(*) FROM w2) AS n2,
             (SELECT count(*) FROM w1 JOIN w2 USING (user_id)) AS m)
    SELECT CAST(n1 AS BIGINT) AS n_first,
           CAST(n2 AS BIGINT) AS n_second,
           CAST(m AS BIGINT) AS n_both,
           round((n1 + 1.0) * (n2 + 1.0) / (m + 1.0) - 1.0 + 1e-9, 4)
             AS chapman_estimate,
           CASE WHEN m > 0
                THEN round((n1 * 1.0 * n2) / m + 1e-9, 4)
                ELSE NULL END AS lincoln_petersen
    FROM c
    """,
)
def capture_recapture_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-recapture estimate of the TOTAL user population from two
    observation windows (first vs second half of the month): Lincoln-
    Petersen N̂ = n₁n₂/m and the bias-corrected Chapman estimator
    (n₁+1)(n₂+1)/(m+1) − 1. The 'how many users/documents exist that we
    have never seen' estimator — the same mark-recapture logic estimates
    residual duplicate mass after a dedup pass (capture = the pairs two
    independent blocking schemes each catch).

    Scale shape: two distinct-aggregates and one semi-join on user_id —
    all partial-agg friendly, no driver state. The three counts stay
    LAZY single-row aggregates cross-joined into one plan (broadcast of
    three scalar frames), so construction never triggers an action and
    an empty overlap (m = 0) degrades to a NULL Lincoln-Petersen row
    instead of a driver-side ZeroDivisionError."""
    e = Tables(spark, sf_dir).events
    cut = F.lit("2024-01-15").cast("timestamp_ntz")
    w1 = e.filter(F.col("ts") < cut).select("user_id").distinct()
    w2 = e.filter(F.col("ts") >= cut).select("user_id").distinct()
    a1 = w1.agg(F.count(F.lit(1)).alias("n_first"))
    a2 = w2.agg(F.count(F.lit(1)).alias("n_second"))
    am = w1.join(w2, "user_id").agg(F.count(F.lit(1)).alias("n_both"))
    n1 = F.col("n_first").cast("double")
    n2 = F.col("n_second").cast("double")
    m = F.col("n_both").cast("double")
    return (
        a1.crossJoin(F.broadcast(a2))
        .crossJoin(F.broadcast(am))
        .select(
            F.col("n_first").cast("long").alias("n_first"),
            F.col("n_second").cast("long").alias("n_second"),
            F.col("n_both").cast("long").alias("n_both"),
            F.round(
                (n1 + 1.0) * (n2 + 1.0) / (m + 1.0) - 1.0 + F.lit(1e-9), 4
            ).alias("chapman_estimate"),
            F.when(
                m > 0, F.round(n1 * n2 / m + F.lit(1e-9), 4)
            ).alias("lincoln_petersen"),
        )
    )


@query(
    "price_index_laspeyres_paasche",
    oracle="""
    WITH li AS (
      SELECT l.l_partkey AS pk,
             CASE WHEN o.o_orderdate < TIMESTAMP '1995-01-01' THEN 0 ELSE 1 END
               AS period,
             sum(l.l_quantity) AS q,
             sum(l.l_extendedprice) / sum(l.l_quantity) AS p
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY pk, period),
    bp AS (
      SELECT b.pk, b.p AS p0, b.q AS q0, c.p AS p1, c.q AS q1
      FROM li b JOIN li c ON b.pk = c.pk AND b.period = 0 AND c.period = 1),
    agg AS (
      SELECT count(*) AS n_parts,
             sum(p1 * q0) / sum(p0 * q0) AS laspeyres,
             sum(p1 * q1) / sum(p0 * q1) AS paasche
      FROM bp)
    SELECT CAST(n_parts AS BIGINT) AS n_parts,
           round(laspeyres + 1e-9, 6) AS laspeyres,
           round(paasche + 1e-9, 6) AS paasche,
           round(sqrt(laspeyres * paasche) + 1e-9, 6) AS fisher_ideal
    FROM agg
    """,
)
def price_index_laspeyres_paasche(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres, Paasche, and Fisher-ideal price indices for parts
    traded in BOTH periods (orders before vs from 1995): unit prices
    p = Σ revenue / Σ quantity per (part, period); Laspeyres weights
    price relatives by base-period quantities, Paasche by current, and
    Fisher is their geometric mean (the superlative index). The
    aggregate price-level instrument for 'did our data-acquisition cost
    per token actually rise, or did the mix shift?'

    Scale shape: one fact⋈fact self-match realized as a groupBy to
    (part, period) FIRST (the heavy reduction), then a part-keyed join
    of the two period slices — part-domain-sized, not lineitem-sized."""
    t = Tables(spark, sf_dir)
    li = (
        t.lineitem.join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("l_partkey").alias("pk"),
            F.when(
                F.col("o_orderdate") < F.lit("1995-01-01").cast("timestamp_ntz"), 0
            )
            .otherwise(1)
            .alias("period"),
        )
        .agg(
            F.sum("l_quantity").alias("q"),
            (F.sum("l_extendedprice") / F.sum("l_quantity")).alias("p"),
        )
    )
    b = li.filter(F.col("period") == 0).select(
        "pk", F.col("p").alias("p0"), F.col("q").alias("q0")
    )
    c = li.filter(F.col("period") == 1).select(
        "pk", F.col("p").alias("p1"), F.col("q").alias("q1")
    )
    both = b.join(c, "pk")
    agg = both.agg(
        F.count(F.lit(1)).alias("n_parts"),
        (
            F.sum(F.col("p1") * F.col("q0")) / F.sum(F.col("p0") * F.col("q0"))
        ).alias("laspeyres"),
        (
            F.sum(F.col("p1") * F.col("q1")) / F.sum(F.col("p0") * F.col("q1"))
        ).alias("paasche"),
    )
    return agg.select(
        "n_parts",
        F.round(F.col("laspeyres") + 1e-9, 6).alias("laspeyres"),
        F.round(F.col("paasche") + 1e-9, 6).alias("paasche"),
        F.round(F.sqrt(F.col("laspeyres") * F.col("paasche")) + 1e-9, 6).alias(
            "fisher_ideal"
        ),
    )


@query(
    "quantile_treatment_effects",
    oracle="""
    WITH s AS (
      SELECT o_totalprice AS y,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS tr
      FROM orders)
    SELECT 0.1 AS q,
           round(quantile_disc(CASE WHEN s.tr = 1 THEN s.y END, 0.1)
                 + 1e-9, 2) AS q_treated,
           round(quantile_disc(CASE WHEN s.tr = 0 THEN s.y END, 0.1)
                 + 1e-9, 2) AS q_control,
           round(quantile_disc(CASE WHEN s.tr = 1 THEN s.y END, 0.1)
               - quantile_disc(CASE WHEN s.tr = 0 THEN s.y END, 0.1)
                 + 1e-9, 2) AS qte
    FROM s
    UNION ALL
    SELECT 0.25 AS q,
           round(quantile_disc(CASE WHEN s.tr = 1 THEN s.y END, 0.25)
                 + 1e-9, 2) AS q_treated,
           round(quantile_disc(CASE WHEN s.tr = 0 THEN s.y END, 0.25)
                 + 1e-9, 2) AS q_control,
           round(quantile_disc(CASE WHEN s.tr = 1 THEN s.y END, 0.25)
               - quantile_disc(CASE WHEN s.tr = 0 THEN s.y END, 0.25)
                 + 1e-9, 2) AS qte
    FROM s
    UNION ALL
    SELECT 0.5 AS q,
           round(quantile_disc(CASE WHEN s.tr = 1 THEN s.y END, 0.5)
                 + 1e-9, 2) AS q_treated,
           round(quantile_disc(CASE WHEN s.tr = 0 THEN s.y END, 0.5)
                 + 1e-9, 2) AS q_control,
           round(quantile_disc(CASE WHEN s.tr = 1 THEN s.y END, 0.5)
               - quantile_disc(CASE WHEN s.tr = 0 THEN s.y END, 0.5)
                 + 1e-9, 2) AS qte
    FROM s
    UNION ALL
    SELECT 0.75 AS q,
           round(quantile_disc(CASE WHEN s.tr = 1 THEN s.y END, 0.75)
                 + 1e-9, 2) AS q_treated,
           round(quantile_disc(CASE WHEN s.tr = 0 THEN s.y END, 0.75)
                 + 1e-9, 2) AS q_control,
           round(quantile_disc(CASE WHEN s.tr = 1 THEN s.y END, 0.75)
               - quantile_disc(CASE WHEN s.tr = 0 THEN s.y END, 0.75)
                 + 1e-9, 2) AS qte
    FROM s
    UNION ALL
    SELECT 0.9 AS q,
           round(quantile_disc(CASE WHEN s.tr = 1 THEN s.y END, 0.9)
                 + 1e-9, 2) AS q_treated,
           round(quantile_disc(CASE WHEN s.tr = 0 THEN s.y END, 0.9)
                 + 1e-9, 2) AS q_control,
           round(quantile_disc(CASE WHEN s.tr = 1 THEN s.y END, 0.9)
               - quantile_disc(CASE WHEN s.tr = 0 THEN s.y END, 0.9)
                 + 1e-9, 2) AS qte
    FROM s
    ORDER BY q
    """,
)
def quantile_treatment_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile 'treatment effects' of URGENT priority on order value:
    the difference of the two arms' marginal quantiles at τ ∈ {0.1,
    0.25, 0.5, 0.75, 0.9} — where in the outcome DISTRIBUTION the
    effect lives (a mean ATE can be zero while the tails move in
    opposite directions). Discrete quantiles (exact order statistics)
    keep both engines identical — the same reason the registered
    ``percentile_exact`` family uses percentile_disc.

    Scale shape: ONE aggregate computes all 10 order statistics in a
    single scan of orders (10 percentile_disc expressions in the same
    .agg — Catalyst shares the scan and sort state), then the 1-row
    result is exploded into the 5-row τ ladder via an array-of-structs
    projection: no union of five full-table scans, no join."""
    o = Tables(spark, sf_dir).orders.select(
        F.col("o_totalprice").alias("y"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("tr"),
    )
    taus = (0.1, 0.25, 0.5, 0.75, 0.9)
    aggs = []
    for i, q in enumerate(taus):
        aggs.append(
            F.expr(
                f"percentile_disc({q}) WITHIN GROUP (ORDER BY y)"
                " FILTER (WHERE tr = 1)"
            ).alias(f"qt_{i}")
        )
        aggs.append(
            F.expr(
                f"percentile_disc({q}) WITHIN GROUP (ORDER BY y)"
                " FILTER (WHERE tr = 0)"
            ).alias(f"qc_{i}")
        )
    one = o.agg(*aggs)
    ladder = F.array(
        *[
            F.struct(
                F.lit(q).alias("q"),
                F.round(F.col(f"qt_{i}") + 1e-9, 2).alias("q_treated"),
                F.round(F.col(f"qc_{i}") + 1e-9, 2).alias("q_control"),
                F.round(
                    F.col(f"qt_{i}") - F.col(f"qc_{i}") + 1e-9, 2
                ).alias("qte"),
            )
            for i, q in enumerate(taus)
        ]
    )
    return (
        one.select(F.explode(ladder).alias("r"))
        .select("r.q", "r.q_treated", "r.q_control", "r.qte")
        .orderBy("q")
    )


@query(
    "ipf_raking_segment_priority",
    oracle="""
    WITH cell AS (
      SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri,
             CAST(count(*) AS DOUBLE) AS w0
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY seg, pri),
    tgt_r AS (
      SELECT seg, sum(w0) * 1.0 AS m FROM cell GROUP BY seg),
    tgt_c AS (
      SELECT pri, sum(w0) * 0.9999999999 + 0.0 AS m FROM cell GROUP BY pri),
    tot AS (SELECT sum(w0) AS t FROM cell),
    w1 AS (
      SELECT cell.seg, cell.pri,
             (tot.t / (SELECT count(*) FROM cell)) *
             tgt_r.m / sum(tot.t / (SELECT count(*) FROM cell))
               OVER (PARTITION BY cell.seg) AS w
      FROM cell CROSS JOIN tot JOIN tgt_r ON tgt_r.seg = cell.seg),
    w2 AS (
      SELECT w1.seg, w1.pri,
             w1.w * tgt_c.m / sum(w1.w) OVER (PARTITION BY w1.pri) AS w
      FROM w1 JOIN tgt_c ON tgt_c.pri = w1.pri),
    w3 AS (
      SELECT w2.seg, w2.pri,
             w2.w * tgt_r.m / sum(w2.w) OVER (PARTITION BY w2.seg) AS w
      FROM w2 JOIN tgt_r ON tgt_r.seg = w2.seg),
    w4 AS (
      SELECT w3.seg, w3.pri,
             w3.w * tgt_c.m / sum(w3.w) OVER (PARTITION BY w3.pri) AS w
      FROM w3 JOIN tgt_c ON tgt_c.pri = w3.pri)
    SELECT seg, pri, round(w + 1e-9, 4) AS raked_weight
    FROM w4 ORDER BY seg, pri
    """,
)
def ipf_raking_segment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative proportional fitting (raking) of the segment×priority
    contingency table: starting from a UNIFORM table, alternately scale
    rows then columns to match the observed margins — two full sweeps,
    unrolled identically on both engines (IPF converges geometrically;
    the fixed-sweep version is deterministic and engine-portable). The
    survey-weighting/data-rebalancing primitive: calibrate sampling
    weights so a skewed corpus matches target marginals without
    touching the joint structure.

    Scale shape: the cell table is |segments|×|priorities| = 25 rows
    after one fact-join groupBy — every sweep is a window over ≤25
    rows. At 100 TB only the initial contingency aggregate sees data."""
    t = Tables(spark, sf_dir)
    cell = (
        t.orders.join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("pri"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("w0"))
    )
    n_cells = cell.count()
    tgt_r = cell.groupBy("seg").agg((F.sum("w0") * 1.0).alias("mr"))
    tgt_c = cell.groupBy("pri").agg(
        (F.sum("w0") * 0.9999999999 + 0.0).alias("mc")
    )
    tot = cell.agg(F.sum("w0").alias("t"))
    w = (
        cell.crossJoin(F.broadcast(tot))
        .join(F.broadcast(tgt_r), "seg")
        .join(F.broadcast(tgt_c), "pri")
        .select("seg", "pri", (F.col("t") / n_cells).alias("w"), "mr", "mc")
    )
    for i in range(2):
        w = w.withColumn(
            "w",
            F.col("w")
            * F.col("mr")
            / F.sum("w").over(Window.partitionBy("seg")),
        )
        w = w.withColumn(
            "w",
            F.col("w")
            * F.col("mc")
            / F.sum("w").over(Window.partitionBy("pri")),
        )
    return (
        w.select("seg", "pri", F.round(F.col("w") + 1e-9, 4).alias("raked_weight"))
        .orderBy("seg", "pri")
    )


# ---------------------------------------------------------------------------
# Wave 7: competing risks, Markov entropy rate, growth accounting, CMH
# ---------------------------------------------------------------------------


@query(
    "aalen_johansen_cif",
    oracle="""
    WITH per_user AS (
      SELECT user_id, min(ts) AS t0, max(ts) AS tmax,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS tp,
             min(CASE WHEN event_type = 'error' THEN ts END) AS te
      FROM events GROUP BY user_id),
    dur AS (
      SELECT user_id,
             CASE
               WHEN tp IS NOT NULL AND (te IS NULL OR tp <= te) THEN 1
               WHEN te IS NOT NULL AND (tp IS NULL OR te < tp) THEN 2
               ELSE 0 END AS cause,
             (epoch_us(CASE
               WHEN tp IS NOT NULL AND (te IS NULL OR tp <= te) THEN tp
               WHEN te IS NOT NULL AND (tp IS NULL OR te < tp) THEN te
               ELSE tmax END) - epoch_us(t0)) // 3600000000 AS d_h
      FROM per_user),
    n_all AS (SELECT count(*) AS n FROM dur),
    by_t AS (
      SELECT d_h, count(*) AS n_total,
             sum(CASE WHEN cause = 1 THEN 1 ELSE 0 END) AS d1,
             sum(CASE WHEN cause = 2 THEN 1 ELSE 0 END) AS d2
      FROM dur GROUP BY d_h),
    risk AS (
      SELECT d_h, n_total, d1, d2,
             n_all.n - coalesce(sum(n_total) OVER (ORDER BY d_h
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM by_t, n_all),
    ev AS (SELECT * FROM risk WHERE d1 + d2 > 0),
    km AS (
      SELECT d_h, n_risk, d1, d2,
             exp(coalesce(sum(ln(CASE WHEN d1 + d2 < n_risk
                 THEN 1.0 - CAST(d1 + d2 AS DOUBLE) / n_risk
                 ELSE 1.0 END)) OVER (ORDER BY d_h
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
               AS s_minus
      FROM ev),
    cif AS (
      SELECT d_h, n_risk, d1, d2,
             sum(s_minus * d1 / CAST(n_risk AS DOUBLE))
               OVER (ORDER BY d_h
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cif_purchase,
             sum(s_minus * d2 / CAST(n_risk AS DOUBLE))
               OVER (ORDER BY d_h
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cif_error
      FROM km)
    SELECT CAST(d_h AS BIGINT) AS duration_h,
           CAST(n_risk AS BIGINT) AS n_risk,
           CAST(d1 AS BIGINT) AS d_purchase,
           CAST(d2 AS BIGINT) AS d_error,
           round(cif_purchase + 1e-9, 6) AS cif_purchase,
           round(cif_error + 1e-9, 6) AS cif_error
    FROM cif ORDER BY duration_h
    """,
)
def aalen_johansen_cif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aalen-Johansen cumulative incidence functions under COMPETING
    RISKS: each user's first purchase and first error compete (whichever
    strikes first is the user's cause; neither = censored at last
    activity). CIF_k(t) = Σ_{s≤t} Ŝ(s⁻)·d_k(s)/n(s), with Ŝ the
    all-cause KM survival — the estimator that fixes the classic
    mistake of running per-cause KM and pretending competitors are
    censoring (which over-counts: per-cause '1−KM's can sum past 1;
    the CIFs cannot). Completes the registered survival family
    (KM, Nelson-Aalen, log-rank, Weibull) with the multi-state member.

    Scale shape: identical to KM — one user-keyed aggregate, then the
    hour-domain frame (bounded keys at any corpus size) carries the
    cumulative windows."""
    e = Tables(spark, sf_dir).events
    per_user = e.groupBy("user_id").agg(
        F.min("ts").alias("t0"),
        F.max("ts").alias("tmax"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("tp"),
        F.min(F.when(F.col("event_type") == "error", F.col("ts"))).alias("te"),
    )
    cause = (
        F.when(
            F.col("tp").isNotNull()
            & (F.col("te").isNull() | (F.col("tp") <= F.col("te"))),
            1,
        )
        .when(
            F.col("te").isNotNull()
            & (F.col("tp").isNull() | (F.col("te") < F.col("tp"))),
            2,
        )
        .otherwise(0)
    )
    tend = (
        F.when(
            F.col("tp").isNotNull()
            & (F.col("te").isNull() | (F.col("tp") <= F.col("te"))),
            F.col("tp"),
        )
        .when(
            F.col("te").isNotNull()
            & (F.col("tp").isNull() | (F.col("te") < F.col("tp"))),
            F.col("te"),
        )
        .otherwise(F.col("tmax"))
    )
    dur = per_user.select(
        cause.alias("cause"),
        F.timestamp_diff("MICROSECOND", F.col("t0"), tend).alias("d_us"),
    ).select("cause", F.expr("d_us div 3600000000").alias("d_h"))
    n_all = dur.agg(F.count(F.lit(1)).alias("n"))
    by_t = dur.groupBy("d_h").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("cause") == 1, 1).otherwise(0)).alias("d1"),
        F.sum(F.when(F.col("cause") == 2, 1).otherwise(0)).alias("d2"),
    )
    from ror_etl_spark.operators.util import global_cumsum

    risk = (
        global_cumsum(by_t, ["d_h"], "n_total", out="before")
        .crossJoin(F.broadcast(n_all))
        .select(
            "d_h", "d1", "d2", (F.col("n") - F.col("before")).alias("n_risk")
        )
    )
    ev = risk.filter(F.col("d1") + F.col("d2") > 0)
    dall = (F.col("d1") + F.col("d2")).cast("double")
    guarded = F.when(
        F.col("d1") + F.col("d2") < F.col("n_risk"),
        1.0 - dall / F.col("n_risk"),
    ).otherwise(F.lit(1.0))
    wk = Window.orderBy("d_h").rowsBetween(Window.unboundedPreceding, -1)
    wc = Window.orderBy("d_h").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    km = ev.select(
        "d_h",
        "n_risk",
        "d1",
        "d2",
        F.exp(F.coalesce(F.sum(F.log(guarded)).over(wk), F.lit(0.0))).alias(
            "s_minus"
        ),
    )
    cif = km.select(
        "d_h",
        "n_risk",
        "d1",
        "d2",
        F.sum(
            F.col("s_minus") * F.col("d1") / F.col("n_risk").cast("double")
        ).over(wc).alias("cif_purchase"),
        F.sum(
            F.col("s_minus") * F.col("d2") / F.col("n_risk").cast("double")
        ).over(wc).alias("cif_error"),
    )
    return cif.select(
        F.col("d_h").cast("long").alias("duration_h"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d1").cast("long").alias("d_purchase"),
        F.col("d2").cast("long").alias("d_error"),
        F.round(F.col("cif_purchase") + 1e-9, 6).alias("cif_purchase"),
        F.round(F.col("cif_error") + 1e-9, 6).alias("cif_error"),
    ).orderBy("duration_h")


@query(
    "entropy_rate_markov",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type, ts,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS nxt
      FROM events),
    tr AS (
      SELECT event_type AS a, nxt AS b, CAST(count(*) AS DOUBLE) AS c
      FROM seq WHERE nxt IS NOT NULL GROUP BY a, b),
    row_tot AS (SELECT a, sum(c) AS ra FROM tr GROUP BY a),
    tot AS (SELECT sum(c) AS t FROM tr),
    h AS (
      SELECT sum((row_tot.ra / tot.t)
                 * (tr.c / row_tot.ra) * -ln(tr.c / row_tot.ra)) AS rate,
             sum((tr.c / tot.t) * -ln(tr.c / tot.t)) AS joint
      FROM tr JOIN row_tot ON tr.a = row_tot.a CROSS JOIN tot)
    SELECT round(rate + 1e-9, 6) AS entropy_rate_nats,
           round(joint + 1e-9, 6) AS joint_entropy_nats,
           round(rate / ln(5.0) + 1e-9, 6) AS normalized_rate
    FROM h
    """,
)
def entropy_rate_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the per-user event-type Markov chain: H = Σ_a
    π(a) Σ_b P(b|a)·(−ln P(b|a)), with the stationary weights taken as
    the empirical transition-row masses — how PREDICTABLE the next user
    action is given the current one (0 = deterministic flows, ln 5 =
    uniform over the 5 event types). Reports the joint bigram entropy
    beside it; the gap (joint − rate) is the information carried by the
    current state. Builds the information-theoretic summary on top of
    the registered ``markov_event_transitions`` (the matrix itself).

    Scale shape: one user-partitioned lead window over the fact table
    (the sessionize shape), then everything is a ≤25-row transition
    frame."""
    e = Tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lead("event_type").over(w).alias("nxt")
    ).where(F.col("nxt").isNotNull())
    tr = seq.groupBy(
        F.col("event_type").alias("a"), F.col("nxt").alias("b")
    ).agg(F.count(F.lit(1)).cast("double").alias("c"))
    row_tot = tr.groupBy("a").agg(F.sum("c").alias("ra"))
    tot = tr.agg(F.sum("c").alias("t"))
    joined = tr.join(F.broadcast(row_tot), "a").crossJoin(F.broadcast(tot))
    h = joined.agg(
        F.sum(
            (F.col("ra") / F.col("t"))
            * (F.col("c") / F.col("ra"))
            * -F.log(F.col("c") / F.col("ra"))
        ).alias("rate"),
        F.sum(
            (F.col("c") / F.col("t")) * -F.log(F.col("c") / F.col("t"))
        ).alias("joint"),
    )
    import math as _math

    return h.select(
        F.round(F.col("rate") + 1e-9, 6).alias("entropy_rate_nats"),
        F.round(F.col("joint") + 1e-9, 6).alias("joint_entropy_nats"),
        F.round(F.col("rate") / _math.log(5.0) + 1e-9, 6).alias(
            "normalized_rate"
        ),
    )


@query(
    "growth_accounting_weekly",
    oracle="""
    WITH wk AS (
      SELECT DISTINCT user_id,
             CAST(date_diff('day', TIMESTAMP '2024-01-01', ts) AS BIGINT) // 7
               AS week_idx
      FROM events),
    firsts AS (
      SELECT user_id, min(week_idx) AS first_week FROM wk GROUP BY user_id),
    status AS (
      SELECT w.week_idx, w.user_id,
             CASE
               WHEN f.first_week = w.week_idx THEN 'new'
               WHEN prev.user_id IS NOT NULL THEN 'retained'
               ELSE 'resurrected' END AS kind
      FROM wk w
      JOIN firsts f ON f.user_id = w.user_id
      LEFT JOIN wk prev
        ON prev.user_id = w.user_id AND prev.week_idx = w.week_idx - 1),
    churn AS (
      SELECT w.week_idx + 1 AS week_idx, count(*) AS churned
      FROM wk w
      LEFT JOIN wk nxt
        ON nxt.user_id = w.user_id AND nxt.week_idx = w.week_idx + 1
      WHERE nxt.user_id IS NULL
      GROUP BY w.week_idx + 1),
    agg AS (
      SELECT week_idx,
             sum(CASE WHEN kind = 'new' THEN 1 ELSE 0 END) AS new_users,
             sum(CASE WHEN kind = 'retained' THEN 1 ELSE 0 END) AS retained,
             sum(CASE WHEN kind = 'resurrected' THEN 1 ELSE 0 END)
               AS resurrected
      FROM status GROUP BY week_idx)
    SELECT a.week_idx AS week_idx,
           CAST(a.new_users AS BIGINT) AS new_users,
           CAST(a.retained AS BIGINT) AS retained,
           CAST(a.resurrected AS BIGINT) AS resurrected,
           CAST(coalesce(c.churned, 0) AS BIGINT) AS churned,
           round((a.retained * 1.0) / nullif(a.retained +
                 coalesce(c.churned, 0), 0) + 1e-9, 6) AS retention_rate
    FROM agg a LEFT JOIN churn c ON c.week_idx = a.week_idx
    WHERE a.week_idx <= 4 ORDER BY week_idx
    """,
)
def growth_accounting_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting (the new/retained/resurrected/churned
    decomposition every consumer-product dashboard runs): a user active
    in week w is NEW (first-ever week), RETAINED (also active in w−1),
    or RESURRECTED (active before, not in w−1); a user active in w−1
    but not w CHURNS into w. retention_rate = retained/(retained+
    churned) — the quick ratio's denominator pair. Distinct from the
    registered ``cohort_retention`` (fixed-cohort triangle): this is
    the per-period flow decomposition.

    Scale shape: the (user, week) distinct frame is the only fact-sized
    reduction; the three self-joins run on it keyed by (user, week) —
    at 100 TB they're shuffle joins on the same key, one exchange
    reused."""
    e = Tables(spark, sf_dir).events
    wk = e.select(
        "user_id",
        F.expr(
            "CAST(datediff(CAST(ts AS date), DATE '2024-01-01') AS BIGINT)"
            " div 7"
        ).alias("week_idx"),
    ).distinct()
    firsts = wk.groupBy("user_id").agg(F.min("week_idx").alias("first_week"))
    prev = wk.select("user_id", (F.col("week_idx") + 1).alias("week_idx"))
    status = (
        wk.join(firsts, "user_id")
        .join(
            prev.withColumn("was_prev", F.lit(1)),
            ["user_id", "week_idx"],
            "left",
        )
        .select(
            "week_idx",
            F.when(F.col("first_week") == F.col("week_idx"), "new")
            .when(F.col("was_prev").isNotNull(), "retained")
            .otherwise("resurrected")
            .alias("kind"),
        )
    )
    nxt = wk.select("user_id", (F.col("week_idx") - 1).alias("week_idx"))
    churn = (
        wk.join(
            nxt.withColumn("has_next", F.lit(1)),
            ["user_id", "week_idx"],
            "left",
        )
        .where(F.col("has_next").isNull())
        .groupBy((F.col("week_idx") + 1).alias("week_idx"))
        .agg(F.count(F.lit(1)).alias("churned"))
    )
    agg = status.groupBy("week_idx").agg(
        F.sum(F.when(F.col("kind") == "new", 1).otherwise(0)).alias("new_users"),
        F.sum(F.when(F.col("kind") == "retained", 1).otherwise(0)).alias(
            "retained"
        ),
        F.sum(F.when(F.col("kind") == "resurrected", 1).otherwise(0)).alias(
            "resurrected"
        ),
    )
    return (
        agg.join(churn, "week_idx", "left")
        .where(F.col("week_idx") <= 4)
        .select(
            "week_idx",
            "new_users",
            "retained",
            "resurrected",
            F.coalesce(F.col("churned"), F.lit(0)).alias("churned"),
            F.round(
                (F.col("retained") * 1.0)
                / F.nullif(
                    F.col("retained") + F.coalesce(F.col("churned"), F.lit(0)),
                    F.lit(0),
                )
                + 1e-9,
                6,
            ).alias("retention_rate"),
        )
        .orderBy("week_idx")
    )


@query(
    "cmh_test_segment_strata",
    oracle="""
    WITH med AS (
      SELECT quantile_disc(o_totalprice, 0.5) AS m FROM orders),
    cell AS (
      SELECT c.c_mktsegment AS k,
             CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS tr,
             CASE WHEN o.o_totalprice > med.m THEN 1 ELSE 0 END AS hi
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      CROSS JOIN med),
    strata AS (
      SELECT k,
             CAST(sum(CASE WHEN tr = 1 AND hi = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS a,
             CAST(sum(CASE WHEN tr = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
             CAST(sum(CASE WHEN hi = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS m1,
             CAST(count(*) AS DOUBLE) AS n
      FROM cell GROUP BY k),
    sums AS (
      SELECT sum(a) AS sa,
             sum(n1 * m1 / n) AS se,
             sum(n1 * (n - n1) * m1 * (n - m1) / (n * n * (n - 1))) AS sv,
             sum(a * (n - n1 - m1 + a) / n) AS rr_num,
             sum((n1 - a) * (m1 - a) / n) AS rr_den,
             count(*) AS n_strata
      FROM strata WHERE n > 1)
    SELECT CAST(n_strata AS BIGINT) AS n_strata,
           round(sa - se + 1e-9, 4) AS observed_minus_expected,
           round((abs(sa - se) - 0.5) * (abs(sa - se) - 0.5) / sv + 1e-9, 6)
             AS cmh_chi2,
           round(rr_num / rr_den + 1e-9, 6) AS mh_odds_ratio
    FROM sums
    """,
)
def cmh_test_segment_strata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Mantel-Haenszel test of urgent-priority × above-median
    order value, STRATIFIED by market segment: pools the per-stratum
    2×2 evidence (hypergeometric mean/variance of cell a) into one
    continuity-corrected chi-square plus the Mantel-Haenszel common
    odds ratio — association net of the stratifying confounder, the
    categorical sibling of the staged IPTW (which adjusts a MEAN; CMH
    adjusts an odds ratio). Exact discrete median via quantile_disc on
    both engines.

    Scale shape: one broadcast scalar (median), one groupBy(segment)
    over indicator sums, then 5-row scalar math."""
    o = Tables(spark, sf_dir).orders
    t = Tables(spark, sf_dir)
    med = o.agg(
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)"
        ).alias("m")
    )
    cell = (
        o.join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .crossJoin(F.broadcast(med))
        .select(
            F.col("c_mktsegment").alias("k"),
            F.when(F.col("o_orderpriority") == "1-URGENT", 1)
            .otherwise(0)
            .alias("tr"),
            F.when(F.col("o_totalprice") > F.col("m"), 1).otherwise(0).alias(
                "hi"
            ),
        )
    )
    strata = cell.groupBy("k").agg(
        F.sum(F.when((F.col("tr") == 1) & (F.col("hi") == 1), 1).otherwise(0))
        .cast("double")
        .alias("a"),
        F.sum("tr").cast("double").alias("n1"),
        F.sum("hi").cast("double").alias("m1"),
        F.count(F.lit(1)).cast("double").alias("n"),
    )
    sums = strata.where(F.col("n") > 1).agg(
        F.sum("a").alias("sa"),
        F.sum(F.col("n1") * F.col("m1") / F.col("n")).alias("se"),
        F.sum(
            F.col("n1")
            * (F.col("n") - F.col("n1"))
            * F.col("m1")
            * (F.col("n") - F.col("m1"))
            / (F.col("n") * F.col("n") * (F.col("n") - 1))
        ).alias("sv"),
        F.sum(
            F.col("a")
            * (F.col("n") - F.col("n1") - F.col("m1") + F.col("a"))
            / F.col("n")
        ).alias("rr_num"),
        F.sum(
            (F.col("n1") - F.col("a")) * (F.col("m1") - F.col("a")) / F.col("n")
        ).alias("rr_den"),
        F.count(F.lit(1)).alias("n_strata"),
    )
    dev = F.col("sa") - F.col("se")
    return sums.select(
        F.col("n_strata").alias("n_strata"),
        F.round(dev + 1e-9, 4).alias("observed_minus_expected"),
        F.round(
            (F.abs(dev) - 0.5) * (F.abs(dev) - 0.5) / F.col("sv") + 1e-9, 6
        ).alias("cmh_chi2"),
        F.round(F.col("rr_num") / F.col("rr_den") + 1e-9, 6).alias(
            "mh_odds_ratio"
        ),
    )
