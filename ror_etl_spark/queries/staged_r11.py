"""Model/data evaluation and calibration operators a training-data
pipeline runs on its model telemetry and curation heuristics: ranking
metrics (ROC AUC via the rank closed form, average precision, NDCG/MRR),
probability calibration (ECE reliability bins, Brier decomposition by
cohort, Wilson lower bounds), campaign economics (lift/gains deciles,
attribution, discounted LTV), categorical association (chi-square,
G-test, McNemar, Cochran's Q), effect sizes and experiment design
(Cohen's d, CUPED, SRM, power/MDE, SPRT, difference-in-differences),
multiple-testing control (Benjamini-Hochberg over an engine-portable
normal-CDF polynomial), rank and two-sample tests (Kruskal-Wallis,
Friedman, Wilcoxon, Cramér-von Mises, energy distance, log-rank),
changepoint detection (CUSUM), link analysis (HITS hubs/authorities,
link prediction, rich club), graph structure (degree assortativity, LPA
modularity), cluster quality (Davies-Bouldin), weighted reservoir
sampling (A-Res with an engine-portable Lehmer stream), quantile
normalization, and an iterative BFS on a 10k-node synthetic graph
(recursive-CTE oracle) so an iterative kernel is hash-checked at more
than 25 nodes.

Every entry follows the registry discipline (registry.py module
docstring): identical aliases both sides, epsilon-shifted rounding on
floats, deterministic total orders for every rank/tiebreak, and the
DISK_ONLY rule for loop-internal checkpoints
(tests/test_checkpoint_discipline.py). ``tests/test_staged_r11.py``
runs the Spark-vs-DuckDB comparison.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ror_etl_spark.operators.util import global_cumsum, global_rank, spread
from ror_etl_spark.queries.util import epoch_us
from ror_etl_spark.registry import query
from ror_etl_spark.tables import Tables

_DISK_ONLY = StorageLevel.DISK_ONLY

# ---------------------------------------------------------------------------
# Ranking metrics: ROC AUC, average precision
# ---------------------------------------------------------------------------


@query(
    "roc_auc_click_purchase",
    oracle="""
    WITH s AS (
      SELECT value AS v,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events WHERE event_type IN ('click', 'purchase')),
    g AS (SELECT v, count(*) AS c, sum(y) AS cp FROM s GROUP BY v),
    r AS (
      SELECT v, c, cp,
             coalesce(sum(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
      FROM g),
    agg AS (
      SELECT sum(cp * (before + (c + 1) / 2.0)) AS r_pos,
             CAST(sum(cp) AS DOUBLE) AS np, CAST(sum(c - cp) AS DOUBLE) AS nn
      FROM r)
    SELECT CAST(np AS BIGINT) AS n_pos,
           CAST(nn AS BIGINT) AS n_neg,
           round((r_pos - np * (np + 1) / 2.0) / (np * nn) + 1e-9, 6) AS auc
    FROM agg
    """,
)
def roc_auc_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC of `value` as a purchase-vs-click score, via the
    rank-statistic closed form AUC = (R_pos - n_pos(n_pos+1)/2) /
    (n_pos * n_neg) with midranks for ties — exactly the Mann-Whitney U
    normalization, so ties contribute 1/2 per the standard definition.
    Sibling of the registered ``auc_doclen_vs_lang`` (stats.py, the
    length-vs-language separability diagnostic): same midrank closed
    form, but scoring a MODEL-style score column against an outcome —
    the head of the staged eval toolkit (AP, ECE, Brier, lift below).

    Scale shape: one groupBy(score) aggregate, one DISTRIBUTED exclusive
    cumsum over the distinct-score frame (``global_cumsum``), one scalar
    aggregate. No per-row ranking of the fact table, no single-task
    window; products run in double (na*nb overflows int64 at ~3e9 per
    side — the ks_test lesson, ADVICE r9)."""
    e = Tables(spark, sf_dir).events.filter(
        F.col("event_type").isin("click", "purchase")
    )
    g = e.groupBy(F.col("value").alias("v")).agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "cp"
        ),
    )
    r = global_cumsum(g, ["v"], "c", out="before")
    agg = r.agg(
        F.sum(F.col("cp") * (F.col("before") + (F.col("c") + 1) / 2.0)).alias(
            "r_pos"
        ),
        F.sum("cp").cast("double").alias("np"),
        F.sum(F.col("c") - F.col("cp")).cast("double").alias("nn"),
    )
    np_, nn = F.col("np"), F.col("nn")
    return agg.select(
        np_.cast("long").alias("n_pos"),
        nn.cast("long").alias("n_neg"),
        F.round(
            (F.col("r_pos") - np_ * (np_ + 1) / 2.0) / (np_ * nn) + 1e-9, 6
        ).alias("auc"),
    )


@query(
    "average_precision_purchase",
    oracle="""
    WITH s AS (
      SELECT value AS v,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events WHERE event_type IN ('click', 'purchase')),
    g AS (SELECT v, count(*) AS c, sum(y) AS cp FROM s GROUP BY v),
    r AS (
      SELECT v, c, cp,
             coalesce(sum(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ca,
             coalesce(sum(cp) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pa
      FROM g),
    tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n, CAST(sum(cp) AS DOUBLE) AS p
            FROM g)
    SELECT CAST(tot.p AS BIGINT) AS n_pos,
           CAST(count(*) AS BIGINT) AS n_thresholds,
           round(sum((r.cp / tot.p) * ((tot.p - r.pa) / (tot.n - r.ca)))
                 + 1e-9, 6) AS avg_precision
    FROM r, tot
    GROUP BY tot.p
    """,
)
def average_precision_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (area under the precision-recall curve, step
    interpolation at observed thresholds): AP = Σ_t ΔRecall(t) ·
    Precision(t) over distinct scores t descending. The per-threshold
    recall increment is exactly the positive mass AT that score
    (cp(t)/P), and precision at threshold t counts everything with
    score ≥ t — both derivable from ONE exclusive ascending cumsum, so
    no lag/lead window and no descending second pass is needed.

    Scale shape: groupBy(score), one distributed exclusive cumsum on
    the distinct-score frame, one weighted scalar aggregate."""
    e = Tables(spark, sf_dir).events.filter(
        F.col("event_type").isin("click", "purchase")
    )
    g = e.groupBy(F.col("value").alias("v")).agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "cp"
        ),
    )
    r = global_cumsum(g, ["v"], ["c", "cp"], out=["ca", "pa"])
    tot = g.agg(
        F.sum("c").cast("double").alias("n"), F.sum("cp").cast("double").alias("p")
    )
    joined = r.crossJoin(F.broadcast(tot))
    return joined.agg(
        F.max("p").cast("long").alias("n_pos"),
        F.count(F.lit(1)).alias("n_thresholds"),
        F.round(
            F.sum(
                (F.col("cp") / F.col("p"))
                * ((F.col("p") - F.col("pa")) / (F.col("n") - F.col("ca")))
            )
            + 1e-9,
            6,
        ).alias("avg_precision"),
    )

# ---------------------------------------------------------------------------
# Probability calibration: reliability bins / ECE, Brier by cohort
# ---------------------------------------------------------------------------


@query(
    "calibration_ece_bins",
    oracle="""
    WITH s AS (
      SELECT value AS v,
             CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y
      FROM events WHERE event_type IN ('click', 'purchase')),
    mx AS (SELECT max(v) AS m, count(*) AS n FROM s),
    b AS (
      SELECT least(CAST(floor(s.v / mx.m * 10) AS INT), 9) AS bin, s.v / mx.m AS p, s.y
      FROM s, mx),
    per AS (
      SELECT bin, count(*) AS n_bin,
             round(avg(p) + 1e-9, 6) AS confidence,
             round(avg(y) + 1e-9, 6) AS accuracy
      FROM b GROUP BY bin),
    e AS (
      SELECT round(sum(CAST(n_bin AS DOUBLE) / (SELECT n FROM mx)
                       * abs(accuracy - confidence)) + 1e-9, 6) AS ece
      FROM per)
    SELECT per.bin, per.n_bin, per.confidence, per.accuracy, e.ece
    FROM per, e ORDER BY per.bin
    """,
)
def calibration_ece_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + expected calibration error: treat the
    normalized score p = value/max(value) as a purchase probability,
    bucket into 10 equal-width bins, and compare each bin's mean
    prediction (confidence) with its empirical purchase rate
    (accuracy); ECE is the bin-count-weighted mean absolute gap. The
    per-bin averages are rounded to 6 dp (+1e-9) BEFORE the ECE sum so
    the engines sum identical 6-dp terms, never raw fp accumulations.

    Scale shape: one broadcast scalar (max, count), one groupBy(bin)
    over 10 keys — partial aggregation does all the work map-side."""
    e = Tables(spark, sf_dir).events.filter(
        F.col("event_type").isin("click", "purchase")
    ).select(
        F.col("value").alias("v"),
        F.when(F.col("event_type") == "purchase", 1.0).otherwise(0.0).alias("y"),
    )
    mx = e.agg(F.max("v").alias("m"), F.count(F.lit(1)).alias("n"))
    b = e.crossJoin(F.broadcast(mx)).select(
        F.least(
            F.floor(F.col("v") / F.col("m") * 10).cast("long"), F.lit(9).cast("long")
        ).alias("bin"),
        (F.col("v") / F.col("m")).alias("p"),
        "y",
        "n",
    )
    per = b.groupBy("bin", "n").agg(
        F.count(F.lit(1)).alias("n_bin"),
        F.round(F.avg("p") + 1e-9, 6).alias("confidence"),
        F.round(F.avg("y") + 1e-9, 6).alias("accuracy"),
    )
    ece = per.agg(
        F.round(
            F.sum(
                F.col("n_bin").cast("double")
                / F.col("n")
                * F.abs(F.col("accuracy") - F.col("confidence"))
            )
            + 1e-9,
            6,
        ).alias("ece")
    )
    return (
        per.crossJoin(F.broadcast(ece))
        .select("bin", "n_bin", "confidence", "accuracy", "ece")
        .orderBy("bin")
    )


@query(
    "brier_score_by_cohort",
    oracle="""
    WITH s AS (
      SELECT user_id % 10 AS cohort, value AS v,
             CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y
      FROM events WHERE event_type IN ('click', 'purchase')),
    mx AS (SELECT max(v) AS m FROM s)
    SELECT CAST(s.cohort AS BIGINT) AS cohort,
           CAST(count(*) AS BIGINT) AS n,
           round(avg((s.v / mx.m - s.y) * (s.v / mx.m - s.y)) + 1e-9, 6)
             AS brier,
           round(avg(s.y) + 1e-9, 6) AS base_rate
    FROM s, mx
    GROUP BY s.cohort ORDER BY cohort
    """,
)
def brier_score_by_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score (mean squared error of the probability forecast) per
    user cohort (user_id % 10), with each cohort's base rate alongside —
    the per-slice calibration drill-down that catches a model that is
    well-calibrated in aggregate but mis-calibrated on a segment.

    Scale shape: one broadcast scalar, one 10-key groupBy."""
    e = Tables(spark, sf_dir).events.filter(
        F.col("event_type").isin("click", "purchase")
    ).select(
        (F.col("user_id") % 10).alias("cohort"),
        F.col("value").alias("v"),
        F.when(F.col("event_type") == "purchase", 1.0).otherwise(0.0).alias("y"),
    )
    mx = e.agg(F.max("v").alias("m"))
    p = F.col("v") / F.col("m")
    return (
        e.crossJoin(F.broadcast(mx))
        .groupBy("cohort")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg((p - F.col("y")) * (p - F.col("y"))) + 1e-9, 6).alias(
                "brier"
            ),
            F.round(F.avg("y") + 1e-9, 6).alias("base_rate"),
        )
        .select(
            F.col("cohort").cast("long").alias("cohort"), "n", "brier", "base_rate"
        )
        .orderBy("cohort")
    )


# ---------------------------------------------------------------------------
# Lift / gains deciles
# ---------------------------------------------------------------------------


@query(
    "lift_gains_deciles",
    oracle="""
    WITH s AS (
      SELECT event_id, value AS v,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events WHERE event_type IN ('click', 'purchase')),
    tot AS (SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(y) AS DOUBLE) AS p
            FROM s),
    r AS (
      SELECT y,
             row_number() OVER (ORDER BY v DESC, event_id) - 1 AS rk
      FROM s),
    d AS (
      SELECT CAST(floor(r.rk * 10 / tot.n) AS INT) AS decile,
             count(*) AS n_decile, sum(r.y) AS n_pos
      FROM r, tot GROUP BY decile),
    c AS (
      SELECT decile, n_decile, n_pos,
             sum(n_pos) OVER (ORDER BY decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos
      FROM d)
    SELECT c.decile, CAST(c.n_decile AS BIGINT) AS n_decile,
           CAST(c.n_pos AS BIGINT) AS n_pos,
           round((c.n_pos / c.n_decile) / (tot.p / tot.n) + 1e-9, 6) AS lift,
           round(c.cum_pos / tot.p + 1e-9, 6) AS cum_gain
    FROM c, tot ORDER BY c.decile
    """,
)
def lift_gains_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift & cumulative-gains table: rank events by score
    descending (tiebreak event_id), cut into 10 equal-population
    deciles, and report each decile's purchase lift over the base rate
    plus the cumulative share of all purchases captured — the campaign-
    targeting readout of a ranking model.

    Scale shape: the per-row global rank uses ``global_rank`` (range
    partition + pid-local window + broadcast offsets, never a
    single-task window); the decile frame is 10 rows, so its cumsum
    window is bounded-size by construction."""
    e = Tables(spark, sf_dir).events.filter(
        F.col("event_type").isin("click", "purchase")
    ).select(
        "event_id",
        F.col("value").alias("v"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    tot = e.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("y").cast("double").alias("p"),
    )
    # descending score order == ascending (-v, event_id)
    r = global_rank(
        e.select("event_id", "y", (-F.col("v")).alias("nv")), "nv", "event_id",
        out="rk",
    )
    d = (
        r.crossJoin(F.broadcast(tot))
        .groupBy(
            F.floor(F.col("rk") * 10 / F.col("n")).cast("int").alias("decile")
        )
        .agg(F.count(F.lit(1)).alias("n_decile"), F.sum("y").alias("n_pos"))
    )
    c = d.withColumn(
        "cum_pos",
        F.sum("n_pos").over(
            Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        c.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            F.col("n_decile").cast("long").alias("n_decile"),
            F.col("n_pos").cast("long").alias("n_pos"),
            F.round(
                (F.col("n_pos") / F.col("n_decile")) / (F.col("p") / F.col("n"))
                + 1e-9,
                6,
            ).alias("lift"),
            F.round(F.col("cum_pos") / F.col("p") + 1e-9, 6).alias("cum_gain"),
        )
        .orderBy("decile")
    )

# ---------------------------------------------------------------------------
# Categorical association: chi-square + Cramér's V, G-test
# ---------------------------------------------------------------------------


@query(
    "chi_square_priority_status",
    oracle="""
    WITH obs AS (
      SELECT o_orderpriority AS a, o_orderstatus AS b, count(*) AS o
      FROM orders GROUP BY a, b),
    ra AS (SELECT a, CAST(sum(o) AS DOUBLE) AS ta FROM obs GROUP BY a),
    rb AS (SELECT b, CAST(sum(o) AS DOUBLE) AS tb FROM obs GROUP BY b),
    n AS (SELECT CAST(sum(o) AS DOUBLE) AS n,
                 count(DISTINCT a) AS ka, count(DISTINCT b) AS kb FROM obs),
    cells AS (
      SELECT obs.o, ra.ta * rb.tb / n.n AS e
      FROM obs JOIN ra ON obs.a = ra.a JOIN rb ON obs.b = rb.b, n)
    SELECT CAST(n.n AS BIGINT) AS n,
           CAST((n.ka - 1) * (n.kb - 1) AS BIGINT) AS dof,
           round(sum((cells.o - cells.e) * (cells.o - cells.e) / cells.e)
                 + 1e-9, 4) AS chi2,
           round(sqrt(sum((cells.o - cells.e) * (cells.o - cells.e) / cells.e)
                      / (n.n * (least(n.ka, n.kb) - 1))) + 1e-9, 6) AS cramers_v
    FROM cells, n GROUP BY n.n, n.ka, n.kb
    """,
)
def chi_square_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence on the order-priority x
    order-status contingency table, with Cramér's V as the bounded
    effect size (V = sqrt(chi2 / (n * (min(r,c)-1)))) — the categorical
    drift test a curation pipeline runs between corpus snapshots.
    Sibling of the registered ``chisq_event_type_value_band``
    (stats.py); the material addition here is Cramér's V, which makes
    chi-square magnitudes comparable across tables of different size.

    Scale shape: one groupBy over the (r x c)-bounded cell domain; the
    marginals are broadcast joins against that bounded frame. The fact
    table is touched exactly once."""
    o = Tables(spark, sf_dir).orders
    obs = o.groupBy(
        F.col("o_orderpriority").alias("a"), F.col("o_orderstatus").alias("b")
    ).agg(F.count(F.lit(1)).alias("o"))
    ra = obs.groupBy("a").agg(F.sum("o").cast("double").alias("ta"))
    rb = obs.groupBy("b").agg(F.sum("o").cast("double").alias("tb"))
    n = obs.agg(
        F.sum("o").cast("double").alias("n"),
        F.countDistinct("a").alias("ka"),
        F.countDistinct("b").alias("kb"),
    )
    cells = (
        obs.join(F.broadcast(ra), "a")
        .join(F.broadcast(rb), "b")
        .crossJoin(F.broadcast(n))
        .select(
            "o",
            (F.col("ta") * F.col("tb") / F.col("n")).alias("e"),
            "n",
            "ka",
            "kb",
        )
    )
    chi = F.sum((F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e"))
    return cells.groupBy("n", "ka", "kb").agg(
        F.round(chi + 1e-9, 4).alias("chi2"),
        F.round(
            F.sqrt(chi / (F.col("n") * (F.least("ka", "kb") - 1))) + 1e-9, 6
        ).alias("cramers_v"),
    ).select(
        F.col("n").cast("long").alias("n"),
        ((F.col("ka") - 1) * (F.col("kb") - 1)).cast("long").alias("dof"),
        "chi2",
        "cramers_v",
    )


@query(
    "g_test_event_type_cohort",
    oracle="""
    WITH obs AS (
      SELECT event_type AS a, user_id % 5 AS b, count(*) AS o
      FROM events GROUP BY a, b),
    ra AS (SELECT a, CAST(sum(o) AS DOUBLE) AS ta FROM obs GROUP BY a),
    rb AS (SELECT b, CAST(sum(o) AS DOUBLE) AS tb FROM obs GROUP BY b),
    n AS (SELECT CAST(sum(o) AS DOUBLE) AS n,
                 count(DISTINCT a) AS ka, count(DISTINCT b) AS kb FROM obs)
    SELECT CAST(n.n AS BIGINT) AS n,
           CAST((n.ka - 1) * (n.kb - 1) AS BIGINT) AS dof,
           round(2 * sum(obs.o * ln(obs.o / (ra.ta * rb.tb / n.n))) + 1e-9, 4)
             AS g_stat
    FROM obs JOIN ra ON obs.a = ra.a JOIN rb ON obs.b = rb.b, n
    GROUP BY n.n, n.ka, n.kb
    """,
)
def g_test_event_type_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G-test (log-likelihood-ratio test) of independence between event
    type and user cohort (user_id % 5): G = 2 Σ O ln(O/E). Preferred
    over Pearson chi-square when cell counts are small or when the
    statistic must be additive across partitions of the table (G
    decomposes exactly; chi-square doesn't).

    Scale shape: identical to the chi-square query — one bounded-domain
    groupBy, broadcast marginals. Zero-count cells never appear (groupBy
    only materializes observed cells), so ln(0) is unreachable."""
    e = Tables(spark, sf_dir).events
    obs = e.groupBy(
        F.col("event_type").alias("a"), (F.col("user_id") % 5).alias("b")
    ).agg(F.count(F.lit(1)).alias("o"))
    ra = obs.groupBy("a").agg(F.sum("o").cast("double").alias("ta"))
    rb = obs.groupBy("b").agg(F.sum("o").cast("double").alias("tb"))
    n = obs.agg(
        F.sum("o").cast("double").alias("n"),
        F.countDistinct("a").alias("ka"),
        F.countDistinct("b").alias("kb"),
    )
    return (
        obs.join(F.broadcast(ra), "a")
        .join(F.broadcast(rb), "b")
        .crossJoin(F.broadcast(n))
        .groupBy("n", "ka", "kb")
        .agg(
            F.round(
                2
                * F.sum(
                    F.col("o")
                    * F.log(F.col("o") / (F.col("ta") * F.col("tb") / F.col("n")))
                )
                + 1e-9,
                4,
            ).alias("g_stat")
        )
        .select(
            F.col("n").cast("long").alias("n"),
            ((F.col("ka") - 1) * (F.col("kb") - 1)).cast("long").alias("dof"),
            "g_stat",
        )
    )




# ---------------------------------------------------------------------------
# Effect size: Cohen's d
# ---------------------------------------------------------------------------


@query(
    "cohens_d_urgent_low",
    oracle="""
    WITH s AS (
      SELECT o_totalprice AS v,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS grp
      FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
    g AS (
      SELECT grp, CAST(count(*) AS DOUBLE) AS n, avg(v) AS m,
             var_samp(v) AS s2
      FROM s GROUP BY grp),
    w AS (
      SELECT max(CASE WHEN grp = 1 THEN n END) AS n1,
             max(CASE WHEN grp = 0 THEN n END) AS n0,
             max(CASE WHEN grp = 1 THEN m END) AS m1,
             max(CASE WHEN grp = 0 THEN m END) AS m0,
             max(CASE WHEN grp = 1 THEN s2 END) AS s21,
             max(CASE WHEN grp = 0 THEN s2 END) AS s20
      FROM g)
    SELECT CAST(n1 AS BIGINT) AS n_urgent, CAST(n0 AS BIGINT) AS n_low,
           round(m1 - m0 + 1e-9, 2) AS mean_diff,
           round((m1 - m0) / sqrt(((n1 - 1) * s21 + (n0 - 1) * s20)
                                  / (n1 + n0 - 2)) + 1e-9, 6) AS cohens_d,
           round(((m1 - m0) / sqrt(((n1 - 1) * s21 + (n0 - 1) * s20)
                                   / (n1 + n0 - 2)))
                 * (1.0 - 3.0 / (4.0 * (n1 + n0) - 9.0)) + 1e-9, 6)
             AS hedges_g
    FROM w
    """,
)
def cohens_d_urgent_low(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized effect size between URGENT and LOW order totals:
    Cohen's d with the pooled sample variance, plus the small-sample
    Hedges' g correction (x (1 - 3/(4N-9))) — the number that says
    whether a statistically significant difference is PRACTICALLY
    large, which p-values alone never do.

    Scale shape: one 2-key groupBy with streaming variance aggregates;
    everything after is scalar arithmetic on a broadcast row."""
    o = Tables(spark, sf_dir).orders.filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        F.col("o_totalprice").alias("v"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias(
            "grp"
        ),
    )
    g = o.groupBy("grp").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("v").alias("m"),
        F.var_samp("v").alias("s2"),
    )
    w = g.agg(
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("grp") == 1, F.col("m"))).alias("m1"),
        F.max(F.when(F.col("grp") == 0, F.col("m"))).alias("m0"),
        F.max(F.when(F.col("grp") == 1, F.col("s2"))).alias("s21"),
        F.max(F.when(F.col("grp") == 0, F.col("s2"))).alias("s20"),
    )
    pooled_sd = F.sqrt(
        ((F.col("n1") - 1) * F.col("s21") + (F.col("n0") - 1) * F.col("s20"))
        / (F.col("n1") + F.col("n0") - 2)
    )
    d = (F.col("m1") - F.col("m0")) / pooled_sd
    return w.select(
        F.col("n1").cast("long").alias("n_urgent"),
        F.col("n0").cast("long").alias("n_low"),
        F.round(F.col("m1") - F.col("m0") + 1e-9, 2).alias("mean_diff"),
        F.round(d + 1e-9, 6).alias("cohens_d"),
        F.round(
            d * (1.0 - 3.0 / (4.0 * (F.col("n1") + F.col("n0")) - 9.0)) + 1e-9, 6
        ).alias("hedges_g"),
    )

# ---------------------------------------------------------------------------
# Multiple-testing control: Benjamini-Hochberg step-up
# ---------------------------------------------------------------------------

# Engine-portable two-sided normal p-value: with x = |z|/sqrt(2),
# p = 2(1 - Phi(|z|)) = erfc(x) ~ (a1 t + ... + a5 t^5) exp(-x^2),
# t = 1/(1 + 0.3275911 x)  (Abramowitz & Stegun 7.1.26, |err| < 1.5e-7).
# Neither Spark SQL nor DuckDB exposes erf/Phi as a builtin, so BOTH
# sides evaluate this identical polynomial — same IEEE ops, same result.
_AS_P = 0.3275911
_AS_A = (0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429)


def _pvalue_sql(z: str) -> str:
    x = f"(abs({z}) / sqrt(2.0))"
    t = f"(1.0 / (1.0 + {_AS_P} * {x}))"
    poly = " + ".join(f"{a} * power({t}, {i + 1})" for i, a in enumerate(_AS_A))
    return f"(({poly}) * exp(-({x} * {x})))"


def _pvalue_col(z):
    x = F.abs(z) / F.sqrt(F.lit(2.0))
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(_AS_P) * x)
    poly = None
    for i, a in enumerate(_AS_A):
        term = F.lit(a) * F.pow(t, F.lit(float(i + 1)))
        poly = term if poly is None else poly + term
    return poly * F.exp(-(x * x))


@query(
    "bh_fdr_cohort_value",
    oracle=f"""
    WITH s AS (
      SELECT user_id % 7 AS cohort, event_type, value AS v FROM events),
    gstat AS (SELECT avg(v) AS mu, stddev_samp(v) AS sigma FROM s),
    g AS (
      SELECT cohort, event_type, CAST(count(*) AS DOUBLE) AS n, avg(v) AS m
      FROM s GROUP BY cohort, event_type),
    z AS (
      SELECT g.cohort, g.event_type, CAST(g.n AS BIGINT) AS n,
             round((g.m - gstat.mu) / (gstat.sigma / sqrt(g.n)) + 1e-9, 4) AS z
      FROM g, gstat),
    p AS (
      SELECT cohort, event_type, n, z,
             round({_pvalue_sql('z')} + 1e-9, 8) AS p
      FROM z),
    r AS (
      SELECT *, row_number() OVER (ORDER BY p, cohort, event_type) AS rk,
             count(*) OVER () AS m
      FROM p),
    k AS (
      SELECT coalesce(max(CASE WHEN p <= rk * 0.05 / m THEN rk END), 0) AS kk
      FROM r)
    SELECT CAST(r.cohort AS BIGINT) AS cohort, r.event_type, r.n, r.z, r.p,
           CAST(r.rk AS BIGINT) AS rank,
           CAST(CASE WHEN r.rk <= k.kk THEN 1 ELSE 0 END AS BIGINT)
             AS rejected
    FROM r, k ORDER BY r.rk
    """,
)
def bh_fdr_cohort_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg step-up FDR control (alpha = 0.05) over the
    per-(cohort, event_type) one-sample z-tests of mean `value` against
    the global mean — the multiple-comparisons guard a telemetry
    dashboard needs before flagging "anomalous" slices. z is quantized
    to 4 dp and the two-sided p to 8 dp BEFORE ranking (round-before-
    rank), and both engines evaluate the same Abramowitz-Stegun erfc
    polynomial, so the p-value ordering is engine-portable by
    construction. Step-up: reject ranks 1..k where k is the largest i
    with p_i <= i/m * alpha.

    Scale shape: the fact table feeds ONE groupBy over the bounded
    (cohort x event_type) domain; everything after (ranking, the
    step-up scan) runs on that <=35-row frame, where an unpartitioned
    window is bounded-size by construction."""
    e = Tables(spark, sf_dir).events.select(
        (F.col("user_id") % 7).alias("cohort"), "event_type",
        F.col("value").alias("v"),
    )
    glob = e.agg(
        F.avg("v").alias("mu"), F.stddev_samp("v").alias("sigma")
    )
    g = e.groupBy("cohort", "event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"), F.avg("v").alias("m")
    )
    z = g.crossJoin(F.broadcast(glob)).select(
        "cohort",
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round(
            (F.col("m") - F.col("mu")) / (F.col("sigma") / F.sqrt("n")) + 1e-9, 4
        ).alias("z"),
    )
    p = z.withColumn("p", F.round(_pvalue_col(F.col("z")) + 1e-9, 8))
    w = Window.orderBy("p", "cohort", "event_type")
    r = p.withColumn("rk", F.row_number().over(w)).withColumn(
        "m", F.count(F.lit(1)).over(Window.partitionBy())
    )
    k = r.agg(
        F.coalesce(
            F.max(F.when(F.col("p") <= F.col("rk") * 0.05 / F.col("m"), F.col("rk"))),
            F.lit(0),
        ).alias("kk")
    )
    return (
        r.crossJoin(F.broadcast(k))
        .select(
            F.col("cohort").cast("long").alias("cohort"),
            "event_type",
            "n",
            "z",
            "p",
            F.col("rk").cast("long").alias("rank"),
            F.when(F.col("rk") <= F.col("kk"), 1).otherwise(0).cast("long").alias(
                "rejected"
            ),
        )
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# Changepoint detection: CUSUM in exact integer cents
# ---------------------------------------------------------------------------


@query(
    "cusum_changepoint_daily",
    oracle="""
    WITH daily AS (
      SELECT date_diff('day', TIMESTAMP '1992-01-01', l_shipdate) AS d,
             CAST(round(sum(l_extendedprice) * 100) AS BIGINT) AS yc
      FROM lineitem GROUP BY d),
    tot AS (SELECT count(*) AS n, sum(yc) AS t FROM daily),
    c AS (
      SELECT daily.d,
             sum(daily.yc * tot.n - tot.t) OVER (ORDER BY daily.d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
      FROM daily, tot),
    best AS (
      SELECT d, s FROM c ORDER BY abs(s) DESC, d LIMIT 1)
    SELECT CAST(tot.n AS BIGINT) AS n_days,
           CAST(best.d AS BIGINT) AS changepoint_day,
           round(best.s / (100.0 * tot.n) + 1e-9, 2) AS max_cusum
    FROM best, tot
    """,
)
def cusum_changepoint_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint scan over daily revenue: the day k maximizing
    |sum_{i<=k}(y_i - mean)| marks the most likely mean shift. The
    SCALE-SAFE twin of the registered ``changepoint_cusum_daily_revenue``
    (stats.py): same exact-integer-cents argmax, but the prefix sums run
    through the distributed ``global_cumsum`` instead of the registered
    op's bounded-domain cumulative window — the form that survives a
    date domain too large for one task. Computed
    in EXACT integer cents — S_k = sum(n*y_i - T) avoids dividing by n,
    so the whole scan is int64 arithmetic and the argmax cannot flip on
    fp summation order (int64 bounds: ~1e14 daily cents x 2.5k days
    squared fits; beyond that switch the two factors to DECIMAL(38)).
    max_cusum rescales to dollars for the report.

    Scale shape: bounded day domain after one fact-table groupBy; the
    cumulative sum uses ``global_cumsum`` (range-partitioned, no
    single-task window); argmax is a TakeOrdered(1)."""
    li = Tables(spark, sf_dir).lineitem
    daily = li.groupBy(
        F.datediff(
            F.col("l_shipdate").cast("date"), F.lit("1992-01-01").cast("date")
        ).alias("d")
    ).agg(
        F.round(F.sum("l_extendedprice") * 100)
        .cast("long")
        .alias("yc")
    )
    tot = daily.agg(F.count(F.lit(1)).alias("n"), F.sum("yc").alias("t"))
    dev = daily.crossJoin(F.broadcast(tot)).select(
        "d", (F.col("yc") * F.col("n") - F.col("t")).alias("v"), "n"
    )
    c = global_cumsum(dev, ["d"], "v", out="before").select(
        "d", (F.col("before") + F.col("v")).alias("s"), "n"
    )
    best = c.orderBy(F.abs(F.col("s")).desc(), F.asc("d")).limit(1)
    return best.select(
        F.col("n").cast("long").alias("n_days"),
        F.col("d").cast("long").alias("changepoint_day"),
        F.round(F.col("s") / (100.0 * F.col("n")) + 1e-9, 2).alias("max_cusum"),
    )

# r12 (VERDICT r11 item 2): the raw nation trade graph is the COMPLETE
# graph K25 at every test SF (every nation pair trades at least once),
# which made rich-club's output empty (no node exceeds the max degree)
# and link-prediction's scores near-constant — green-but-vacuous
# evidence. The family now runs on the SPARSIFIED trade graph: the
# top-90 nation pairs by trade volume (count desc, then (a, b) — a
# total order, so the cut is deterministic at every SF). Trade volumes
# concentrate, so the induced graph is degree-DIVERSE (measured: deg
# 1..24, 11-14 distinct degrees at sf0.001/0.01/0.1) and both ops
# produce non-trivial output. item 3: the CTEs are MATERIALIZED —
# DuckDB inlines CTEs by default, so the un-hinted 4-way fact join was
# re-evaluated once per consumer (345.7 s at sf0.1 for link-prediction
# alone); materializing it is the whole fix (the Spark twin always
# checkpointed).
_TRADE_TOP_M = 90
# LPA modularity uses a sparser cut: at top-90 density the nation graph
# has no community structure left for LPA to find (one giant label —
# measured at all three SFs); at top-40 the 3-round partition holds
# 8-13 communities of varied size at every SF, so the per-community
# modularity terms (w_in, d_c) take real, distinct values.
_MOD_TOP_M = 40


def _trade_edge_ctes(top_m: int) -> str:
    return f"""
    pw AS MATERIALIZED (
      SELECT least(s.s_nationkey, c.c_nationkey) AS a,
             greatest(s.s_nationkey, c.c_nationkey) AS b,
             count(*) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE s.s_nationkey <> c.c_nationkey
      GROUP BY a, b),
    e0 AS MATERIALIZED (
      SELECT a, b, w FROM (
        SELECT a, b, w, row_number() OVER (ORDER BY w DESC, a, b) AS rn
        FROM pw)
      WHERE rn <= {top_m}),
    und AS (
      SELECT a AS u, b AS v, w FROM e0
      UNION ALL SELECT b AS u, a AS v, w FROM e0),
    deg AS (SELECT u AS n, count(*) AS d FROM und GROUP BY u)"""


_TRADE_EDGE_CTES = _trade_edge_ctes(_TRADE_TOP_M)


def _trade_edges(
    t: Tables, top_m: int = _TRADE_TOP_M
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Sparsified undirected nation trade graph: (e0, und, deg) — the
    top-``_TRADE_TOP_M`` least/greatest pairs by trade count (DISK_ONLY
    checkpointed for the multiple consumers), the both-directions view
    (weight kept for the weighted consumers), and node degrees. The
    Python twin of ``_TRADE_EDGE_CTES``; link prediction, rich club,
    assortativity, and LPA modularity share it so the family's graph
    definition cannot drift apart. The global top-M window runs on the
    pair-weight frame, bounded by |nations|^2/2 rows — a domain-bounded
    single-partition sort, not a data-sized one."""
    pw = (
        t.lineitem.join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(t.supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.least("s_nationkey", "c_nationkey").alias("a"),
            F.greatest("s_nationkey", "c_nationkey").alias("b"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    e0 = (
        pw.withColumn(
            "rn",
            F.row_number().over(Window.orderBy(F.desc("w"), F.asc("a"), F.asc("b"))),
        )
        .filter(F.col("rn") <= top_m)
        .select("a", "b", "w")
        .localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
    )
    und = e0.select(F.col("a").alias("u"), F.col("b").alias("v"), "w").unionAll(
        e0.select(F.col("b").alias("u"), F.col("a").alias("v"), "w")
    )
    deg = und.groupBy(F.col("u").alias("n")).agg(F.count(F.lit(1)).alias("d"))
    return e0, und, deg



# ---------------------------------------------------------------------------
# Link analysis: HITS hubs & authorities
# ---------------------------------------------------------------------------

_HITS_ITERS = 5
_HITS_ROUND = 8

# r12 (VERDICT r11 item 2): the raw directed trade graph is complete
# with near-uniform weights, which flattened the HITS fixpoint to
# near-identical scores. Sparsified to each nation's top-K out-edges by
# shipment count (deterministic (w DESC, v) tiebreak) — in-degrees then
# vary with real trade concentration, so authorities separate. The CTEs
# are MATERIALIZED so DuckDB evaluates the 4-way fact join once, not
# once per unrolled half-iteration.
_HITS_TOP_K = 5

_TRADE_EDGES_SQL = f"""edges_all AS MATERIALIZED (
      SELECT s.s_nationkey AS u, c.c_nationkey AS v,
             CAST(count(*) AS DOUBLE) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY u, v),
    edges AS MATERIALIZED (
      SELECT u, v, w FROM (
        SELECT u, v, w,
               row_number() OVER (PARTITION BY u ORDER BY w DESC, v ASC) AS rn
        FROM edges_all)
      WHERE rn <= {_HITS_TOP_K})"""


def _hits_oracle() -> str:
    """Unrolled HITS replay, same quantized-trajectory trick as the
    PageRank oracle: each half-iteration's scores normalize by their
    max and round to 8 dp, so fp summation order cannot drift the
    fixpoint across engines."""
    ctes = [
        _TRADE_EDGES_SQL,
        """nodes AS (SELECT n_nationkey AS id FROM nation)""",
        """h0 AS (SELECT id, 1.0 AS hub FROM nodes)""",
    ]
    for i in range(_HITS_ITERS):
        ctes.append(
            f"""ar{i} AS (
      SELECT nodes.id, coalesce(sum(h.hub * e.w), 0.0) AS x
      FROM nodes
      LEFT JOIN edges e ON e.v = nodes.id
      LEFT JOIN h{i} h ON h.id = e.u
      GROUP BY nodes.id)"""
        )
        ctes.append(
            f"""a{i + 1} AS (
      SELECT id, round(x / max(x) OVER () + 1e-9, {_HITS_ROUND}) AS auth
      FROM ar{i})"""
        )
        ctes.append(
            f"""hr{i} AS (
      SELECT nodes.id, coalesce(sum(a.auth * e.w), 0.0) AS x
      FROM nodes
      LEFT JOIN edges e ON e.u = nodes.id
      LEFT JOIN a{i + 1} a ON a.id = e.v
      GROUP BY nodes.id)"""
        )
        ctes.append(
            f"""h{i + 1} AS (
      SELECT id, round(x / max(x) OVER () + 1e-9, {_HITS_ROUND}) AS hub
      FROM hr{i})"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CAST(a.id AS BIGINT) AS nationkey,
           round(h.hub, 6) AS hub, round(a.auth, 6) AS authority
    FROM a{_HITS_ITERS} a JOIN h{_HITS_ITERS} h ON h.id = a.id
    ORDER BY authority DESC, nationkey
    """
    )


def _hits_trajectory_udf():
    """Arrow kernel replaying the full 5-iteration quantized HITS
    trajectory on ONE row holding the sparsified edge list — the r12
    optimization-round rewrite of the per-half-iteration join loop
    (the ``_pr_trajectory_udf`` precedent, same safety argument).

    Why this is safe at any scale: the top-K-sparsified nation trade
    graph has at most 25·K edges and 25 nodes regardless of fact-table
    size — the data-sized 4-way fact join, the groupBy(u, v) edge count
    and the per-u top-K window stay fully distributed; only the bounded
    aggregate crosses into the kernel. The old loop ran 10 half-steps of
    2 joins + groupBy + whole-frame window + DISK_ONLY checkpoint over
    25-row frames — pure fixed cost at every scale.

    Exactness: per-half-step scores normalize by their MAX (order-free)
    and quantize at 8 dp HALF_UP via ``Decimal(repr(x))`` — the same
    shortest-decimal construction as the JVM's ``BigDecimal.valueOf``
    behind ``F.round`` — with the query's literal +1e-9 added as the
    same float64 op. Mass sums are float64 adds whose order differences
    the 8 dp quantization absorbs, exactly as it already did between
    Spark's partial aggregates and DuckDB's sequential sums."""
    from decimal import Decimal, ROUND_HALF_UP

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    q8 = Decimal("1E-8")

    @pandas_udf("array<struct<id: int, hub: double, auth: double>>")
    def traj(es: pd.Series, ids: pd.Series) -> pd.Series:
        def r8(x: float) -> float:
            return float(Decimal(repr(float(x))).quantize(q8, ROUND_HALF_UP))

        out = []
        for edge_list, node_ids in zip(es, ids):
            n = len(node_ids)
            pos = {nid: i for i, nid in enumerate(node_ids)}
            hub = [1.0] * n
            auth = [0.0] * n
            for _ in range(_HITS_ITERS):
                x = np.zeros(n)
                for e in edge_list:
                    x[pos[e["v"]]] += hub[pos[e["u"]]] * e["w"]
                mx = x.max() if n else 0.0
                auth = [r8(v / mx + 1e-9) for v in x]
                x = np.zeros(n)
                for e in edge_list:
                    x[pos[e["u"]]] += auth[pos[e["v"]]] * e["w"]
                mx = x.max() if n else 0.0
                hub = [r8(v / mx + 1e-9) for v in x]
            out.append(
                [
                    {"id": int(nid), "hub": hub[i], "auth": auth[i]}
                    for i, nid in enumerate(node_ids)
                ]
            )
        return pd.Series(out)

    return traj.asNondeterministic()


@query("hits_nation_trade", oracle=_hits_oracle())
def hits_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities on the directed nation trade graph
    (supplier nation -> customer nation, weight = shipment count):
    5 synchronous iterations of auth(v) = sum_in hub(u) w and
    hub(u) = sum_out auth(v) w, each half-step normalized by its MAX
    (order-stable, unlike an L2 norm whose root is another fp
    accumulation) and quantized to 8 dp, so the DuckDB oracle replays
    the trajectory CTE-for-CTE — the pagerank_nation_trade pattern.

    Scale shape (r12 optimization round): the data-sized work — the
    4-way fact join, the groupBy(u, v) edge count and the per-u top-K
    sparsification window — is fully distributed; the result is bounded
    at |nations|·K edges AT ANY SCALE, so the 5 HITS iterations run in
    one bounded Arrow kernel on the collected edge aggregate
    (``_hits_trajectory_udf``) instead of 10 half-steps of 2 joins +
    groupBy + whole-frame window + DISK_ONLY checkpoint over 25-row
    frames (pure fixed cost at every scale — the pagerank precedent).
    r12 re-base (VERDICT r11 item 2): edges sparsified to each
    nation's top-``_HITS_TOP_K`` out-edges by shipment count — the raw
    complete near-uniform graph flattened hub/authority scores to
    near-identical values (real hashes, degenerate evidence); the
    per-u top-k window runs on the nation-pair aggregate, bounded by
    the |nations| domain per partition."""
    t = Tables(spark, sf_dir)
    edges_all = (
        t.lineitem.join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(t.supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("s_nationkey").alias("u"), F.col("c_nationkey").alias("v"))
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    edges = (
        edges_all.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("u").orderBy(F.desc("w"), F.asc("v"))
            ),
        )
        .filter(F.col("rn") <= _HITS_TOP_K)
        .select("u", "v", "w")
    )
    # one tagged union + ONE global aggregate collects both the edge list
    # and the node-id list (collect_list skips nulls) — the BNLJ-free
    # broadcast-of-scalar shape shared with pagerank_nation_trade
    ed = edges.select(
        F.struct("u", "v", "w").alias("e"),
        F.lit(None).cast(t.nation.schema["n_nationkey"].dataType).alias("nid"),
    )
    nd = t.nation.select(
        F.lit(None).cast(ed.schema["e"].dataType).alias("e"),
        F.col("n_nationkey").alias("nid"),
    )
    one = ed.unionByName(nd).agg(
        F.collect_list("e").alias("es"), F.collect_list("nid").alias("ids")
    )
    traj = _hits_trajectory_udf()
    return (
        one.select(F.explode(traj(F.col("es"), F.col("ids"))).alias("r"))
        .select(
            F.col("r.id").cast("long").alias("nationkey"),
            F.round(F.col("r.hub"), 6).alias("hub"),
            F.round(F.col("r.auth"), 6).alias("authority"),
        )
        # single partition (child of a single-row aggregate): a
        # partition-local sort IS the global sort; a plain orderBy would
        # range-sample and execute the Arrow kernel twice
        .coalesce(1)
        .sortWithinPartitions(F.desc("authority"), F.asc("nationkey"))
    )


# ---------------------------------------------------------------------------
# Graph structure: degree assortativity, LPA modularity
# ---------------------------------------------------------------------------


@query(
    "degree_assortativity_trade",
    oracle=f"""
    WITH {_TRADE_EDGE_CTES},
    mo AS (
      SELECT count(*) AS ne,
             covar_pop(CAST(du.d AS DOUBLE), CAST(dv.d AS DOUBLE)) AS sxy,
             var_pop(CAST(du.d AS DOUBLE)) AS sx,
             var_pop(CAST(dv.d AS DOUBLE)) AS sy
      FROM und JOIN deg du ON du.n = und.u JOIN deg dv ON dv.n = und.v)
    SELECT CAST(ne AS BIGINT) AS n_directed_edges,
           CAST(CASE WHEN sx > 0 AND sy > 0 THEN 1 ELSE 0 END AS BIGINT)
             AS defined,
           round(CASE WHEN sx > 0 AND sy > 0 THEN sxy / sqrt(sx * sy)
                      ELSE 0.0 END + 1e-9, 6) AS assortativity
    FROM mo
    """,
)
def degree_assortativity_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the sparsified (top-90 by volume,
    ``_trade_edges``) undirected nation trade graph: the Pearson
    correlation of endpoint degrees over the directed edge list (each
    undirected edge counted in both directions, the standard Newman
    formulation) — positive means hubs trade with hubs, negative means
    a hub-and-spoke topology. r12 re-base (VERDICT r11 item 2): on the
    raw COMPLETE graph every degree was 24, variance zero, and the
    statistic was pinned at defined=0 — real but degenerate evidence;
    the sparsified graph has 11-14 distinct degrees, so the
    correlation is exercised for real.

    Scale shape: degrees are one node-keyed aggregate of the edge list;
    the correlation is a single pass of streaming moments over edges
    joined to two broadcast degree maps."""
    _, und, deg = _trade_edges(Tables(spark, sf_dir))
    du = deg.select(F.col("n").alias("u"), F.col("d").cast("double").alias("d_u"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").cast("double").alias("d_v"))
    mo = (
        und.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .agg(
            F.count(F.lit(1)).alias("ne"),
            F.covar_pop("d_u", "d_v").alias("sxy"),
            F.var_pop("d_u").alias("sx"),
            F.var_pop("d_v").alias("sy"),
        )
    )
    # regular graphs (every degree equal — the complete sf0.01 nation
    # graph) have zero degree variance, where Pearson r is 0/0: report
    # defined=0 with assortativity 0.0 instead of tripping ANSI
    # divide-by-zero (Spark) vs NULL (DuckDB) asymmetry.
    ok = (F.col("sx") > 0) & (F.col("sy") > 0)
    return mo.select(
        F.col("ne").cast("long").alias("n_directed_edges"),
        F.when(ok, 1).otherwise(0).cast("long").alias("defined"),
        F.round(
            F.when(ok, F.col("sxy") / F.sqrt(F.col("sx") * F.col("sy"))).otherwise(
                0.0
            )
            + 1e-9,
            6,
        ).alias("assortativity"),
    )

_MOD_LPA_ROUNDS = 3


def _modularity_oracle() -> str:
    """LPA label replay (the staged_r9 ``_lpa_oracle`` CTE chain,
    rebuilt here with the same rounds/tiebreaks) followed by the
    weighted-modularity computation on those labels. r12: the graph is
    the shared sparsified ``_TRADE_EDGE_CTES`` und (top-90 pairs,
    weight-carrying) — LPA on the raw complete graph produced one
    near-degenerate all-in-one community."""
    ctes = [
        _trade_edge_ctes(_MOD_TOP_M).strip(),
        """nodes AS (SELECT n_nationkey AS id FROM nation)""",
        """l0 AS (SELECT id, id AS label FROM nodes)""",
    ]
    for i in range(_MOD_LPA_ROUNDS):
        ctes.append(
            f"""c{i} AS (
      SELECT e.u AS id, l.label, sum(e.w) AS wt
      FROM und e JOIN l{i} l ON l.id = e.v
      GROUP BY e.u, l.label)"""
        )
        ctes.append(
            f"""p{i} AS (
      SELECT id, label FROM (
        SELECT id, label,
               row_number() OVER (PARTITION BY id ORDER BY wt DESC, label) AS rn
        FROM c{i}) WHERE rn = 1)"""
        )
        ctes.append(
            f"""l{i + 1} AS (
      SELECT nodes.id, coalesce(p{i}.label, nodes.id) AS label
      FROM nodes LEFT JOIN p{i} ON p{i}.id = nodes.id)"""
        )
    final = f"l{_MOD_LPA_ROUNDS}"
    ctes.append(
        f"""m2 AS (SELECT CAST(sum(w) AS DOUBLE) AS m2 FROM und)"""
    )
    ctes.append(
        f"""strength AS (
      SELECT {final}.label, CAST(sum(s.d) AS DOUBLE) AS dc,
             count(*) AS n_nodes
      FROM (SELECT u AS n, sum(w) AS d FROM und GROUP BY u) s
      JOIN {final} ON {final}.id = s.n
      GROUP BY {final}.label)"""
    )
    ctes.append(
        f"""internal AS (
      SELECT lu.label, CAST(sum(e.w) AS DOUBLE) AS win
      FROM und e
      JOIN {final} lu ON lu.id = e.u
      JOIN {final} lv ON lv.id = e.v AND lv.label = lu.label
      GROUP BY lu.label)"""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + """
    SELECT CAST(s.label AS BIGINT) AS community,
           CAST(s.n_nodes AS BIGINT) AS n_nodes,
           round(coalesce(i.win, 0.0) / m2.m2
                 - (s.dc / m2.m2) * (s.dc / m2.m2) + 1e-9, 6) AS q_contrib
    FROM strength s LEFT JOIN internal i ON i.label = s.label, m2
    ORDER BY community
    """
    )


def _lpa_modularity_udf(rounds: int):
    """Arrow kernel replaying the deterministic synchronous LPA rounds
    AND the per-community modularity sums on ONE row holding the
    collected sparsified pair list — the r12 optimization-round rewrite
    of the per-round join + vote-window loop (the pagerank/HITS/bounded-
    BFS precedent; the top-M pair frame is bounded at |nations|²/2 at
    ANY fact-table scale, and the data-sized fact join + groupBy + top-M
    window stay fully distributed).

    Exactness: votes, strengths, internal weights and 2m are all sums
    of LONG trade counts — exact integer arithmetic, so the argmax
    (greatest weight, smallest label) and every emitted aggregate are
    reproduced literally; the only floats (the Q_c expression) stay a
    Spark projection identical to the relational form's."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(
        "array<struct<label: int, n_nodes: bigint, dc: bigint,"
        " win: bigint, m2: bigint>>"
    )
    def lpa(es: pd.Series, ids: pd.Series) -> pd.Series:
        out = []
        for pair_list, node_ids in zip(es, ids):
            und = []
            for e in pair_list:
                und.append((e["a"], e["b"], e["w"]))
                und.append((e["b"], e["a"], e["w"]))
            labels = {int(n): int(n) for n in node_ids}
            for _ in range(rounds):
                votes: dict = {}
                for u, v, w in und:
                    key = votes.setdefault(u, {})
                    key[labels[v]] = key.get(labels[v], 0) + w
                labels = {
                    n: (
                        min(
                            lv
                            for lv, wt in votes[n].items()
                            if wt == max(votes[n].values())
                        )
                        if n in votes
                        else n
                    )
                    for n in labels
                }
            d: dict = {}
            win: dict = {}
            m2 = 0
            for u, v, w in und:
                d[u] = d.get(u, 0) + w
                m2 += w
                if labels[u] == labels[v]:
                    win[labels[u]] = win.get(labels[u], 0) + w
            agg: dict = {}
            for n, dn in d.items():
                lab = labels[n]
                dc, cnt = agg.get(lab, (0, 0))
                agg[lab] = (dc + dn, cnt + 1)
            out.append(
                [
                    {
                        "label": int(lab),
                        "n_nodes": cnt,
                        "dc": dc,
                        "win": win.get(lab, 0),
                        "m2": m2,
                    }
                    for lab, (dc, cnt) in agg.items()
                ]
            )
        return pd.Series(out)

    return lpa.asNondeterministic()



@query("modularity_lpa_communities", oracle=_modularity_oracle())
def modularity_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman weighted modularity of the 3-round LPA partition of the
    nation trade graph, reported per community: Q_c = w_in_c/2m -
    (d_c/2m)^2 (sum over communities = Q). The LPA trajectory is the
    SAME deterministic one ``label_propagation_communities`` registers
    (synchronous, greatest-incident-weight, smallest-label tiebreak),
    so the quality metric composes with the detector it evaluates.
    r12 re-base (VERDICT r11 item 2): the graph is the shared
    sparsified ``_trade_edges`` und (top-90 pairs, degree-diverse) —
    the raw complete graph collapsed LPA to near-one community.

    Scale shape (r12 optimization round): the data-sized work — the
    fact join, the pair groupBy, the top-M window — stays fully
    distributed; the sparsified pair list is bounded at |nations|²/2 at
    ANY scale, so the 3 LPA rounds and the per-community modularity
    sums run in one bounded Arrow kernel on the collected pair
    aggregate (``_lpa_modularity_udf`` — exact integer vote/strength
    arithmetic) instead of 3 rounds of join + vote window plus three
    label-keyed aggregate joins over ≤80-row frames; the only floats
    (the Q_c expression) remain this Spark projection."""
    t = Tables(spark, sf_dir)
    e0, _, _ = _trade_edges(t, top_m=_MOD_TOP_M)
    nodes = t.nation.select(F.col("n_nationkey").alias("id"))
    ed = e0.select(
        F.struct("a", "b", "w").alias("e"),
        F.lit(None).cast(t.nation.schema["n_nationkey"].dataType).alias("nid"),
    )
    nd = nodes.select(
        F.lit(None).cast(ed.schema["e"].dataType).alias("e"),
        F.col("id").alias("nid"),
    )
    one = ed.unionByName(nd).agg(
        F.collect_list("e").alias("es"), F.collect_list("nid").alias("ids")
    )
    lpa = _lpa_modularity_udf(_MOD_LPA_ROUNDS)
    m2 = F.col("r.m2").cast("double")
    dc = F.col("r.dc").cast("double")
    return (
        one.select(F.explode(lpa(F.col("es"), F.col("ids"))).alias("r"))
        .select(
            F.col("r.label").cast("long").alias("community"),
            F.col("r.n_nodes").alias("n_nodes"),
            F.round(
                F.col("r.win").cast("double") / m2 - (dc / m2) * (dc / m2) + 1e-9,
                6,
            ).alias("q_contrib"),
        )
        # single partition (child of a single-row aggregate): a
        # partition-local sort IS the global sort; a plain orderBy would
        # range-sample and execute the Arrow kernel twice
        .coalesce(1)
        .sortWithinPartitions("community")
    )


# ---------------------------------------------------------------------------
# Cluster quality: Davies-Bouldin index
# ---------------------------------------------------------------------------


@query(
    "davies_bouldin_embeddings",
    oracle="""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings),
    dims AS (
      SELECT label, idx.i AS i, avg(v[idx.i]) AS c
      FROM e, (SELECT unnest(range(1, 65)) AS i) idx
      GROUP BY label, idx.i),
    cent AS (
      SELECT label, list(c ORDER BY i) AS c FROM dims GROUP BY label),
    scat AS (
      SELECT e.label,
             avg(sqrt(list_sum(list_transform(
               list_zip(e.v, cent.c), p -> (p[1] - p[2]) * (p[1] - p[2])))))
               AS s,
             count(*) AS n_vectors
      FROM e JOIN cent ON cent.label = e.label
      GROUP BY e.label),
    sep AS (
      SELECT a.label AS la, b.label AS lb,
             sqrt(list_sum(list_transform(
               list_zip(a.c, b.c), p -> (p[1] - p[2]) * (p[1] - p[2])))) AS m
      FROM cent a JOIN cent b ON a.label <> b.label),
    r AS (
      SELECT sep.la AS label,
             max(round((sa.s + sb.s) / sep.m + 1e-9, 6)) AS r_max
      FROM sep JOIN scat sa ON sa.label = sep.la
      JOIN scat sb ON sb.label = sep.lb
      GROUP BY sep.la),
    db AS (SELECT round(avg(r_max) + 1e-9, 6) AS db_index FROM r)
    SELECT r.label, scat.n_vectors, round(scat.s + 1e-9, 6) AS scatter,
           r.r_max, db.db_index
    FROM r JOIN scat ON scat.label = r.label, db
    ORDER BY r.label
    """,
)
def davies_bouldin_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Davies-Bouldin index of the planted embedding clusters: per
    cluster, scatter S_c = mean Euclidean distance to the centroid;
    between clusters, separation M_ij = centroid distance; R_ij =
    (S_i + S_j)/M_ij is quantized to 6 dp BEFORE the per-cluster max
    (round-before-rank) and DB = mean_i max_j R_ij. Lower is better —
    the companion report to ``embedding_silhouette_by_label`` (same
    centroid machinery, complementary failure modes: DB punishes close
    centroids even when per-point cohesion looks fine).

    Scale shape: one (label, dim)-keyed aggregate for centroids
    (k x 64 rows, broadcast), one map-side distance pass over vectors,
    then everything runs on k- and k^2-sized frames."""
    emb = Tables(spark, sf_dir).embeddings
    e = emb.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    dims = (
        e.select("label", F.posexplode("v").alias("i", "x"))
        .groupBy("label", "i")
        .agg(F.avg("x").alias("c"))
    )
    cent = (
        dims.groupBy("label")
        .agg(
            F.array_sort(F.collect_list(F.struct(F.col("i"), F.col("c")))).alias(
                "ic"
            )
        )
        .select("label", F.transform("ic", lambda s: s["c"]).alias("c"))
    )
    dist = lambda a, b: F.sqrt(  # noqa: E731
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, z: acc + z,
        )
    )
    scat = (
        e.join(F.broadcast(cent), "label")
        .select("label", dist(F.col("v"), F.col("c")).alias("dd"))
        .groupBy("label")
        .agg(F.avg("dd").alias("s"), F.count(F.lit(1)).alias("n_vectors"))
    )
    ca = cent.select(F.col("label").alias("la"), F.col("c").alias("cva"))
    cb = cent.select(F.col("label").alias("lb"), F.col("c").alias("cvb"))
    sep = ca.join(cb, F.col("la") != F.col("lb")).select(
        "la", "lb", dist(F.col("cva"), F.col("cvb")).alias("m")
    )
    sa = scat.select(F.col("label").alias("la"), F.col("s").alias("s_a"))
    sb = scat.select(F.col("label").alias("lb"), F.col("s").alias("s_b"))
    r = (
        sep.join(F.broadcast(sa), "la")
        .join(F.broadcast(sb), "lb")
        .groupBy(F.col("la").alias("label"))
        .agg(
            F.max(
                F.round((F.col("s_a") + F.col("s_b")) / F.col("m") + 1e-9, 6)
            ).alias("r_max")
        )
    )
    db = r.agg(F.round(F.avg("r_max") + 1e-9, 6).alias("db_index"))
    return (
        r.join(scat, r["label"] == scat["label"])
        .crossJoin(F.broadcast(db))
        .select(
            r["label"],
            "n_vectors",
            F.round(F.col("s") + 1e-9, 6).alias("scatter"),
            "r_max",
            "db_index",
        )
        .orderBy("label")
    )

# ---------------------------------------------------------------------------
# Weighted reservoir sampling (A-Res, engine-portable Lehmer stream)
# ---------------------------------------------------------------------------

_LEHMER_M = 2147483647  # 2^31 - 1 (Park-Miller modulus)
_LEHMER_A = 48271


@query(
    "weighted_sample_ares",
    oracle=f"""
    WITH s AS (
      SELECT o_orderkey, o_totalprice AS w,
             ((((o_orderkey + 1) % {_LEHMER_M}) * {_LEHMER_A})
              % {_LEHMER_M} + 0.5) / {_LEHMER_M}.0 AS u
      FROM orders),
    k AS (
      SELECT o_orderkey, w, ln(u) / w AS key
      FROM s)
    SELECT o_orderkey, round(w + 1e-9, 2) AS weight,
           round(key * 1e6 + 1e-9, 6) AS ares_key_ppm
    FROM k ORDER BY key DESC, o_orderkey LIMIT 100
    """,
)
def weighted_sample_ares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reservoir sample without replacement (Efraimidis-
    Spirakis A-Res): each row draws u ~ U(0,1) and keeps key =
    ln(u)/w (the log form of u^(1/w) — same argmax, no tiny-power
    precision cliff); the k largest keys are the sample, with
    inclusion probability proportional to weight. Sibling of the
    registered ``sample_weighted_pps`` (sampling.py, content-hash u
    over text documents); the material difference is the uniform
    stream — a Lehmer LCG on the numeric row key, for tables with no
    content to hash (and the reservoir framing: the same keys stream
    into a k-slot reservoir in one pass). The uniform stream
    is an ENGINE-PORTABLE Lehmer LCG on the row key ((k+1)*48271 mod
    2^31-1, +0.5 to stay strictly inside (0,1)) — exact int64
    arithmetic on both engines, so no hash-function mismatch and no
    RNG state (re-runs are reproducible by construction).

    Scale shape: pure map + TakeOrderedAndProject(100) — the global
    top-k never materializes a sort."""
    o = Tables(spark, sf_dir).orders
    u = (
        ((F.col("o_orderkey") + 1) % _LEHMER_M) * _LEHMER_A % _LEHMER_M + 0.5
    ) / float(_LEHMER_M)
    k = o.select(
        "o_orderkey",
        F.col("o_totalprice").alias("w"),
        (F.log(u) / F.col("o_totalprice")).alias("key"),
    )
    return (
        k.orderBy(F.desc("key"), F.asc("o_orderkey"))
        .limit(100)
        .select(
            "o_orderkey",
            F.round(F.col("w") + 1e-9, 2).alias("weight"),
            F.round(F.col("key") * 1e6 + 1e-9, 6).alias("ares_key_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Quantile normalization across segments
# ---------------------------------------------------------------------------


@query(
    "quantile_normalize_across_segments",
    oracle="""
    WITH r AS (
      SELECT c_mktsegment AS seg, c_acctbal AS x,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal, c_custkey) - 1 AS rk,
             count(*) OVER (PARTITION BY c_mktsegment) AS n
      FROM customer),
    b AS (
      SELECT seg, x,
             least(CAST(floor(rk * 20.0 / n) AS INT), 19) AS bin
      FROM r),
    ref AS (SELECT bin, avg(x) AS norm FROM b GROUP BY bin)
    SELECT b.seg, b.bin, CAST(count(*) AS BIGINT) AS n,
           round(avg(b.x) + 1e-9, 4) AS avg_raw,
           round(max(ref.norm) + 1e-9, 4) AS normalized
    FROM b JOIN ref ON ref.bin = b.bin
    GROUP BY b.seg, b.bin ORDER BY b.seg, b.bin
    """,
)
def quantile_normalize_across_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of account balances across market
    segments (the bioinformatics/feature-scaling transform): rank
    within each segment, cut into 20 quantile bins, and replace each
    bin's values with the ACROSS-SEGMENT mean of that bin — after which
    every segment has the same marginal distribution, isolating
    within-segment structure from between-segment scale. Distinct from
    the registered ``quantile_normalize_acctbal`` (sampling.py), which
    is the single-population rank→uniform[0,1] transform; this is the
    k-population distribution-matching transform (renamed in staging
    to avoid the registry name collision the r10 audit caught).

    Scale shape: the per-segment rank is a window PARTITIONED by
    segment (each partition is one shuffle group, no single-task
    window); the reference distribution is a 20-row broadcast."""
    c = Tables(spark, sf_dir).customer
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    r = c.select(
        F.col("c_mktsegment").alias("seg"),
        F.col("c_acctbal").alias("x"),
        (F.row_number().over(w) - 1).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("c_mktsegment")).alias("n"),
    )
    b = r.select(
        "seg",
        "x",
        F.least(
            F.floor(F.col("rk") * 20.0 / F.col("n")).cast("long"),
            F.lit(19).cast("long"),
        ).alias("bin"),
    )
    ref = b.groupBy("bin").agg(F.avg("x").alias("norm"))
    return (
        b.join(F.broadcast(ref), "bin")
        .groupBy("seg", "bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("x") + 1e-9, 4).alias("avg_raw"),
            F.round(F.max("norm") + 1e-9, 4).alias("normalized"),
        )
        .orderBy("seg", "bin")
    )


# ---------------------------------------------------------------------------
# Wilson lower bound ranking
# ---------------------------------------------------------------------------


@query(
    "wilson_lower_bound_sources",
    oracle="""
    WITH s AS (
      SELECT source, CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END) AS DOUBLE)
               AS k
      FROM documents GROUP BY source),
    w AS (
      SELECT source, n, k, k / n AS p,
             ((k / n) + 1.9208 / n
              - 1.96 * sqrt((k / n) * (1 - k / n) / n + 0.9604 / (n * n)))
             / (1 + 3.8416 / n) AS lb
      FROM s)
    SELECT source, CAST(n AS BIGINT) AS n_docs, CAST(k AS BIGINT) AS n_pass,
           round(p + 1e-9, 6) AS pass_rate,
           round(lb + 1e-9, 6) AS wilson_lb
    FROM w ORDER BY wilson_lb DESC, source
    """,
)
def wilson_lower_bound_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank corpus sources by the Wilson score interval LOWER bound of
    their quality-pass rate (n_chars >= 300), z = 1.96: the
    small-sample-honest ranking (a 3/3 source ranks below a 480/500
    source, where the raw rate says the opposite) — how a curation
    pipeline decides which sources earn a bigger sampling budget.
    z^2 = 3.8416, z^2/2 = 1.9208, z^2/4 = 0.9604 are inlined constants
    so both engines evaluate the same literals.

    Scale shape: one source-keyed aggregate; the Wilson algebra is
    per-group scalar arithmetic."""
    d = Tables(spark, sf_dir).documents
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.when(F.col("n_chars") >= 300, 1).otherwise(0))
        .cast("double")
        .alias("k"),
    )
    p = F.col("k") / F.col("n")
    n = F.col("n")
    lb = (p + 1.9208 / n - 1.96 * F.sqrt(p * (1 - p) / n + 0.9604 / (n * n))) / (
        1 + 3.8416 / n
    )
    return s.select(
        "source",
        F.col("n").cast("long").alias("n_docs"),
        F.col("k").cast("long").alias("n_pass"),
        F.round(p + 1e-9, 6).alias("pass_rate"),
        F.round(lb + 1e-9, 6).alias("wilson_lb"),
    ).orderBy(F.desc("wilson_lb"), F.asc("source"))


# ---------------------------------------------------------------------------
# Iterative BFS on a 10k-node synthetic graph (driver-gated kernel)
# ---------------------------------------------------------------------------

_BFS_P = 10007  # prime node count
_BFS_CAP = 15  # depth cap, identical in the recursive oracle


@query(
    "bfs_distances_synthetic_10k",
    oracle=f"""
    WITH RECURSIVE ids AS (SELECT unnest(range({_BFS_P})) AS i),
    fwd AS (
      SELECT i AS u, (2 * i + 1) % {_BFS_P} AS v FROM ids
      UNION ALL
      SELECT i AS u, (3 * i + 7) % {_BFS_P} AS v FROM ids),
    e AS (
      SELECT u, v FROM fwd WHERE u <> v
      UNION
      SELECT v AS u, u AS v FROM fwd WHERE u <> v),
    b AS (
      SELECT CAST(0 AS BIGINT) AS node, 0 AS d
      UNION
      SELECT e.v AS node, b.d + 1 AS d
      FROM b JOIN e ON e.u = b.node WHERE b.d < {_BFS_CAP})
    SELECT CAST(node AS BIGINT) AS node, CAST(min(d) AS BIGINT) AS dist
    FROM b GROUP BY node ORDER BY node
    """,
)
def bfs_distances_synthetic_10k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS shortest hop counts on a DETERMINISTIC 10,007-
    node expander (edges i -> 2i+1 and i -> 3i+7 mod p, symmetrized) —
    the driver-gated iterative kernel VERDICT r9 item 7 asked for: the
    frontier-delta loop (expand only last round's discoveries, anti-join
    re-visits away, DISK_ONLY checkpoints per the r9 endurance rule) is
    hash-checked against a recursive-CTE oracle at 10k nodes, not 25.
    Both sides cap depth at 15 (the graph's BFS height from 0 is ~10,
    so the cap is slack, and it bounds the oracle's recursion).

    Scale shape: per round ONE shuffle of frontier x edges plus an
    anti-join against the settled set; state is node-sized. This is the
    exact per-round shape the 10^8-edge rehearsal tier measures
    (tools/scale_rehearsal.py --graph-r10)."""
    ids = spark.range(_BFS_P).select(F.col("id").alias("i"))
    fwd = ids.select(
        F.col("i").alias("u"), ((2 * F.col("i") + 1) % _BFS_P).alias("v")
    ).unionAll(
        ids.select(F.col("i").alias("u"), ((3 * F.col("i") + 7) % _BFS_P).alias("v"))
    ).filter(F.col("u") != F.col("v"))
    e = (
        fwd.unionAll(fwd.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
    )
    frontier = spark.range(1).select(
        F.lit(0).cast("long").alias("node"), F.lit(0).alias("d")
    )
    settled = frontier.localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
    frontier = settled
    for _ in range(_BFS_CAP):
        nxt = (
            frontier.join(e, frontier["node"] == e["u"])
            .select(F.col("v").alias("node"), (F.col("d") + 1).alias("d"))
            .distinct()
            .join(settled.select("node"), on="node", how="left_anti")
            .localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
        )
        if nxt.isEmpty():
            break
        settled = settled.unionByName(nxt).localCheckpoint(
            eager=False, storageLevel=_DISK_ONLY
        )
        frontier = nxt
    return settled.select(
        F.col("node").cast("long").alias("node"),
        F.col("d").cast("long").alias("dist"),
    ).orderBy("node")

# ---------------------------------------------------------------------------
# Ranking-quality evaluation of the ANN index: NDCG@10 + MRR
# ---------------------------------------------------------------------------

# IDCG@10 for graded relevance (11 - true_rank): sum_{j=1..10} (11-j)/log2(j+1),
# inlined as the SAME literal on both engines.
_IDCG10 = 29.966109248940597


def _ndcg_oracle(
    n_queries: int = 10,
    n_centroids: int = 16,
    iters: int = 3,
    nprobe: int = 2,
    k: int = 10,
    dim: int = 64,
) -> str:
    """The ``_ann_recall_oracle`` chain with ranks KEPT on both the IVF
    and brute lists, closed with the graded-gain join."""
    from ror_etl_spark.queries.vector import _COS_SQL, _kmeans_ctes

    ctes = [
        f"""qs AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < {n_queries})""",
        *_kmeans_ctes(
            f"""SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE vec_id >= {n_queries}""",
            n_centroids,
            iters,
            dim,
            6,
        ),
        f"""probe AS (
      SELECT qid, cell FROM (
        SELECT q.qid, c.cell,
               row_number() OVER (PARTITION BY q.qid
                                  ORDER BY list_distance(q.qv, c.c), c.cell) AS rn
        FROM c{iters} c CROSS JOIN qs q) WHERE rn <= {nprobe})""",
        f"""ivf AS (
      SELECT qid, vec_id, rn FROM (
        SELECT p.qid, af.vec_id,
               row_number() OVER (PARTITION BY p.qid
                 ORDER BY {_COS_SQL.format(a='af.v', b='q.qv')} DESC, af.vec_id) AS rn
        FROM af JOIN probe p ON af.cell = p.cell
        JOIN qs q ON q.qid = p.qid) WHERE rn <= {k})""",
        f"""brute AS (
      SELECT qid, vec_id, rn FROM (
        SELECT q.qid, e.vec_id,
               row_number() OVER (PARTITION BY q.qid
                 ORDER BY {_COS_SQL.format(a='e.v', b='q.qv')} DESC, e.vec_id) AS rn
        FROM e CROSS JOIN qs q) WHERE rn <= {k})""",
    ]
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT q.qid,
           CAST(count(b.vec_id) AS BIGINT) AS n_hits,
           round(coalesce(sum(({k + 1} - b.rn) / log2(i.rn + 1)), 0.0)
                 / {_IDCG10!r} + 1e-9, 6) AS ndcg,
           round(coalesce(max(CASE WHEN b.rn = 1 THEN 1.0 / i.rn END), 0.0)
                 + 1e-9, 6) AS mrr
    FROM qs q
    LEFT JOIN ivf i ON i.qid = q.qid
    LEFT JOIN brute b ON b.qid = i.qid AND b.vec_id = i.vec_id
    GROUP BY q.qid ORDER BY q.qid
    """
    )


@query("ndcg_mrr_ann_eval", oracle=_ndcg_oracle())
def ndcg_mrr_ann_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded ranking-quality evaluation of the trained-IVF ANN index:
    per query, NDCG@10 with relevance grade (11 - true_cosine_rank) for
    the exact top-10 (0 otherwise), and MRR of the TRUE nearest
    neighbor — the metrics that distinguish "found 8 of 10 somewhere"
    from "found them in the right order", which recall@k cannot see.
    IDCG@10 is a shared inlined literal; DCG terms are integer grades
    over log2 of small integers, so the 6-dp rounded sums are engine-
    portable.

    Scale shape: same as ``embedding_ann_recall`` (shared k-means
    training + one GEMM assignment pass; driver-sized query/probe
    broadcasts; WindowGroupLimit keeps both top-k windows partial)."""
    import math

    from ror_etl_spark.operators.similarity import assign_cells, kmeans_centroids
    from ror_etl_spark.functions.vectors import as_double, cosine

    n_queries, n_centroids, iters, nprobe, k = 10, 16, 3, 2, 10
    emb = Tables(spark, sf_dir).embeddings
    corpus = emb.filter(F.col("vec_id") >= n_queries)
    centroids = kmeans_centroids(corpus, n_centroids, iters, round_means=6)
    qrows = (
        emb.filter(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .collect()
    )
    queries = [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in qrows]

    def qdist(qv: list[float], c: list[float]) -> float:
        return math.fsum((x - y) ** 2 for x, y in zip(qv, c))

    probe_rows = [
        (qid, cell)
        for qid, qv in queries
        for cell in sorted(
            range(len(centroids)), key=lambda i: (qdist(qv, centroids[i]), i)
        )[:nprobe]
    ]
    qdf = F.broadcast(spark.createDataFrame(queries, "qid long, qv array<double>"))
    pdf = F.broadcast(spark.createDataFrame(probe_rows, "qid long, cell int"))

    cells = assign_cells(corpus, centroids)
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    ivf_top = (
        cells.join(pdf, "cell")
        .join(qdf, "qid")
        .select(
            "qid",
            F.col("id").alias("vec_id"),
            cosine(F.col("v"), F.col("qv")).alias("cos"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", "vec_id", F.col("rn").alias("rn_ivf"))
    )
    brute_top = (
        corpus.select("vec_id", as_double(F.col("embedding")).alias("v"))
        .crossJoin(qdf)
        .select("qid", "vec_id", cosine(F.col("v"), F.col("qv")).alias("cos"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", "vec_id", F.col("rn").alias("rn_brute"))
    )
    qids = F.broadcast(
        spark.createDataFrame([(q,) for q, _ in queries], "qid long")
    )
    joined = ivf_top.join(brute_top, ["qid", "vec_id"], "left")
    per = joined.groupBy("qid").agg(
        F.count("rn_brute").cast("long").alias("n_hits"),
        F.round(
            F.coalesce(
                F.sum(
                    (F.lit(k + 1) - F.col("rn_brute"))
                    / F.log2(F.col("rn_ivf") + 1)
                ),
                F.lit(0.0),
            )
            / _IDCG10
            + 1e-9,
            6,
        ).alias("ndcg"),
        F.round(
            F.coalesce(
                F.max(F.when(F.col("rn_brute") == 1, 1.0 / F.col("rn_ivf"))),
                F.lit(0.0),
            )
            + 1e-9,
            6,
        ).alias("mrr"),
    )
    return (
        qids.join(per, "qid", "left")
        .select(
            "qid",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.coalesce(F.col("ndcg"), F.round(F.lit(0.0) + 1e-9, 6)).alias("ndcg"),
            F.coalesce(F.col("mrr"), F.round(F.lit(0.0) + 1e-9, 6)).alias("mrr"),
        )
        .orderBy("qid")
    )


# ---------------------------------------------------------------------------
# Second wave (staged later in round 10): nonparametric k-sample tests,
# paired-proportion shift, classifier confusion/MCC, distribution
# divergences, lagged cross-correlation, robust anomaly screening,
# CUPED variance reduction, sequential testing (SPRT), post-hoc pairwise
# comparisons, blocked fuzzy matching, Markov transitions, class-balance
# weighting, and parametric distribution fitting.
# ---------------------------------------------------------------------------


@query(
    "kruskal_wallis_value_by_type",
    oracle="""
    WITH s AS (
      SELECT value AS v, event_type AS t FROM events WHERE value IS NOT NULL),
    g AS (SELECT v, t, count(*) AS cg FROM s GROUP BY v, t),
    tot AS (SELECT v, sum(cg) AS c FROM g GROUP BY v),
    r AS (
      SELECT v, c,
             coalesce(sum(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
      FROM tot),
    m AS (
      SELECT g.t, sum(g.cg * (r.before + (r.c + 1) / 2.0)) AS rj,
             CAST(sum(g.cg) AS DOUBLE) AS nj
      FROM g JOIN r USING (v) GROUP BY g.t),
    tie AS (
      SELECT CAST(sum(c) AS DOUBLE) AS n,
             sum(CAST(c AS DOUBLE) * c * c - c) AS tie_cubes
      FROM r),
    agg AS (SELECT sum(rj * rj / nj) AS s2, count(*) AS k FROM m)
    SELECT CAST(tie.n AS BIGINT) AS n,
           CAST(agg.k AS BIGINT) AS k,
           CAST(agg.k - 1 AS BIGINT) AS dof,
           round(12.0 / (tie.n * (tie.n + 1.0)) * agg.s2
                 - 3.0 * (tie.n + 1.0) + 1e-9, 4) AS h_stat,
           round((12.0 / (tie.n * (tie.n + 1.0)) * agg.s2
                  - 3.0 * (tie.n + 1.0))
                 / (1.0 - tie.tie_cubes / (tie.n * tie.n * tie.n - tie.n))
                 + 1e-9, 4) AS h_tie_corrected
    FROM tie, agg
    """,
)
def kruskal_wallis_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test: does `value` have the same distribution
    across the k event types? Rank-based one-way ANOVA — the
    nonparametric sibling of the staged-r10 ANOVA F operator, robust to
    the heavy right tail that makes the F test anticonservative on
    revenue-like columns. Midranks come from the count_less +
    (count_eq+1)/2 closed form on the per-distinct-value frame (the
    Mann-Whitney pattern, staged_r10.py:179, generalized to k groups),
    H = 12/(N(N+1)) Σ R_j²/n_j − 3(N+1), and the tie-corrected form
    divides by 1 − Σ(t³−t)/(N³−N).

    Scale shape: one groupBy(value, type) aggregate, one distributed
    exclusive cumsum over the distinct-value frame (global_cumsum), a
    value-keyed join of two distinct-value-sized frames, one k-row
    aggregate. All count products are computed in double (the ADVICE-r9
    int64-overflow rule: N² overflows long at ~3e9 rows)."""
    e = Tables(spark, sf_dir).events.filter(F.col("value").isNotNull())
    # g feeds both the midrank join and the per-value totals; checkpoint
    # so the fact-table aggregate executes once (value-domain can scale
    # with the table, hence DISK_ONLY)
    g = (
        e.groupBy(F.col("value").alias("v"), F.col("event_type").alias("t"))
        .agg(F.count(F.lit(1)).alias("cg"))
        .localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
    )
    tot = g.groupBy("v").agg(F.sum("cg").alias("c"))
    r = global_cumsum(tot, ["v"], "c", out="before")
    m = (
        g.join(r, "v")
        .groupBy("t")
        .agg(
            F.sum(F.col("cg") * (F.col("before") + (F.col("c") + 1) / 2.0)).alias(
                "rj"
            ),
            F.sum("cg").cast("double").alias("nj"),
        )
    )
    tie = r.agg(
        F.sum("c").cast("double").alias("n"),
        F.sum(F.col("c").cast("double") * F.col("c") * F.col("c") - F.col("c")).alias(
            "tie_cubes"
        ),
    )
    agg = m.agg(F.sum(F.col("rj") * F.col("rj") / F.col("nj")).alias("s2"),
                F.count(F.lit(1)).alias("k"))
    n = F.col("n")
    h = 12.0 / (n * (n + 1.0)) * F.col("s2") - 3.0 * (n + 1.0)
    return (
        agg.crossJoin(F.broadcast(tie))
        .select(
            n.cast("long").alias("n"),
            F.col("k").cast("long").alias("k"),
            (F.col("k") - 1).cast("long").alias("dof"),
            F.round(h + 1e-9, 4).alias("h_stat"),
            F.round(
                h / (1.0 - F.col("tie_cubes") / (n * n * n - n)) + 1e-9, 4
            ).alias("h_tie_corrected"),
        )
    )


@query(
    "friedman_daily_type_ranks",
    oracle="""
    WITH day AS (
      SELECT CAST(ts AS DATE) AS d, event_type AS t, count(*) AS cnt
      FROM events GROUP BY 1, 2),
    k AS (SELECT count(DISTINCT t) AS k FROM day),
    full_days AS (
      SELECT d FROM day GROUP BY d
      HAVING count(*) = (SELECT k FROM k)),
    ranked AS (
      SELECT day.d, day.t,
             rank() OVER (PARTITION BY day.d ORDER BY day.cnt)
             + (count(*) OVER (PARTITION BY day.d, day.cnt) - 1) / 2.0 AS mid
      FROM day JOIN full_days USING (d)),
    rj AS (SELECT t, sum(mid) AS r_j FROM ranked GROUP BY t),
    nb AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM full_days)
    SELECT CAST(nb.n AS BIGINT) AS n_blocks,
           CAST(k.k AS BIGINT) AS k,
           CAST(k.k - 1 AS BIGINT) AS dof,
           round(12.0 / (nb.n * k.k * (k.k + 1.0)) * sum(rj.r_j * rj.r_j)
                 - 3.0 * nb.n * (k.k + 1.0) + 1e-9, 4) AS friedman_chi2
    FROM rj, nb, k GROUP BY nb.n, k.k
    """,
)
def friedman_daily_type_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test over complete blocks: days are blocks, event types
    are treatments, the blocked observation is the day's event count.
    Within each complete day (all k types present) the counts get
    midranks (competition rank + (ties−1)/2 — average-rank convention),
    and χ²_F = 12/(nk(k+1)) Σ R_j² − 3n(k+1). Midranks handle ties
    exactly; the additional tie-correction denominator is deliberately
    omitted (documented contract — both engines identical).

    Scale shape: one (day, type) aggregate, then day-PARTITIONED
    windows (never an unpartitioned window — each day sorts k rows),
    a k-row rank-sum aggregate, one scalar output."""
    e = Tables(spark, sf_dir).events
    # the (day x type) frame has three consumers; checkpoint so the
    # fact-table aggregate executes once
    day = (
        e.groupBy(
            F.col("ts").cast("date").alias("d"), F.col("event_type").alias("t")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    kf = day.agg(F.countDistinct("t").alias("k"))
    full_days = (
        day.groupBy("d")
        .agg(F.count(F.lit(1)).alias("kt"))
        .join(F.broadcast(kf), F.col("kt") == F.col("k"))
        .select("d")
    )
    w_rank = Window.partitionBy("d").orderBy("cnt")
    w_tie = Window.partitionBy("d", "cnt")
    ranked = (
        day.join(full_days, "d")
        .withColumn(
            "mid",
            F.rank().over(w_rank) + (F.count(F.lit(1)).over(w_tie) - 1) / 2.0,
        )
    )
    rj = ranked.groupBy("t").agg(F.sum("mid").alias("r_j"))
    nb = full_days.agg(F.count(F.lit(1)).cast("double").alias("n"))
    n, k = F.col("n"), F.col("k").cast("double")
    return (
        rj.agg(F.sum(F.col("r_j") * F.col("r_j")).alias("s2"))
        .crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(kf))
        .select(
            n.cast("long").alias("n_blocks"),
            k.cast("long").alias("k"),
            (k - 1).cast("long").alias("dof"),
            F.round(
                12.0 / (n * k * (k + 1.0)) * F.col("s2")
                - 3.0 * n * (k + 1.0)
                + 1e-9,
                4,
            ).alias("friedman_chi2"),
        )
    )


@query(
    "mcnemar_click_shift_halves",
    oracle="""
    WITH bounds AS (
      SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid FROM events),
    per_user AS (
      SELECT user_id,
             max(CASE WHEN event_type = 'click'
                       AND epoch_us(ts) <= bounds.mid THEN 1 ELSE 0 END) AS p1,
             max(CASE WHEN event_type = 'click'
                       AND epoch_us(ts) > bounds.mid THEN 1 ELSE 0 END) AS p2
      FROM events, bounds GROUP BY user_id),
    cells AS (
      SELECT CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(CASE WHEN p1 = 1 AND p2 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS b,
             CAST(sum(CASE WHEN p1 = 0 AND p2 = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS c
      FROM per_user)
    SELECT n_users, b, c,
           CASE WHEN b + c = 0 THEN 0.0
                ELSE round((abs(b - c) - 1.0) * (abs(b - c) - 1.0)
                           / (b + c) + 1e-9, 4) END AS mcnemar_chi2_cc
    FROM cells
    """,
)
def mcnemar_click_shift_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test of paired proportions: did each user's
    clicked-at-all status change between the first and second half of
    the observation window? The window midpoint is exact integer
    microseconds ((min+max)//2 of epoch_us — no float timestamp math,
    so the half assignment is bit-identical cross-engine), the
    discordant cells b = (1,0) and c = (0,1) drive the
    continuity-corrected statistic (|b−c|−1)²/(b+c).

    Scale shape: one scalar min/max pass, one user-keyed aggregate
    (max of two flags — partial aggregation applies), one 4-cell
    scalar output. Nothing materializes beyond the user domain."""
    e = Tables(spark, sf_dir).events
    us = epoch_us("ts")
    bounds = e.agg(
        ((F.min(us) + F.max(us)) - ((F.min(us) + F.max(us)) % 2))
        .alias("mid2")
    ).select((F.col("mid2") / 2).cast("long").alias("mid"))
    per_user = (
        e.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "click") & (us <= F.col("mid")), 1
                ).otherwise(0)
            ).alias("p1"),
            F.max(
                F.when(
                    (F.col("event_type") == "click") & (us > F.col("mid")), 1
                ).otherwise(0)
            ).alias("p2"),
        )
    )
    cells = per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when((F.col("p1") == 1) & (F.col("p2") == 0), 1).otherwise(0))
        .alias("b"),
        F.sum(F.when((F.col("p1") == 0) & (F.col("p2") == 1), 1).otherwise(0))
        .alias("c"),
    )
    b, c = F.col("b").cast("double"), F.col("c").cast("double")
    return cells.select(
        F.col("n_users").cast("long").alias("n_users"),
        F.col("b").cast("long").alias("b"),
        F.col("c").cast("long").alias("c"),
        F.when(F.col("b") + F.col("c") == 0, F.lit(0.0))
        .otherwise(
            F.round(
                (F.abs(b - c) - 1.0) * (F.abs(b - c) - 1.0) / (b + c) + 1e-9, 4
            )
        )
        .alias("mcnemar_chi2_cc"),
    )


@query(
    "mcc_confusion_value_threshold",
    oracle="""
    WITH scored AS (
      SELECT CASE WHEN value >= 100.0 THEN 1 ELSE 0 END AS pred,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS actual
      FROM events),
    cm AS (
      SELECT CAST(sum(pred * actual) AS BIGINT) AS tp,
             CAST(sum(pred * (1 - actual)) AS BIGINT) AS fp,
             CAST(sum((1 - pred) * actual) AS BIGINT) AS fn,
             CAST(sum((1 - pred) * (1 - actual)) AS BIGINT) AS tn
      FROM scored)
    SELECT tp, fp, fn, tn,
           round((CAST(tp AS DOUBLE) + tn) / (tp + fp + fn + tn) + 1e-9, 6)
             AS accuracy,
           round(2.0 * tp / (2.0 * tp + fp + fn) + 1e-9, 6) AS f1,
           round((CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
                 / sqrt((CAST(tp AS DOUBLE) + fp) * (CAST(tp AS DOUBLE) + fn)
                        * (CAST(tn AS DOUBLE) + fp)
                        * (CAST(tn AS DOUBLE) + fn)) + 1e-9, 6) AS mcc
    FROM cm
    """,
)
def mcc_confusion_value_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix + Matthews correlation coefficient of the
    fixed-threshold classifier `value >= 100` predicting purchase
    events — the balanced-binary-metric companion to the staged ROC
    AUC (which is threshold-free). The literal threshold keeps the
    cell assignment bit-identical cross-engine (no interpolated
    quantile at the decision boundary). MCC's numerator and the four
    marginal products are computed in double BEFORE multiplying (the
    ADVICE-r9 rule: tp·tn overflows int64 once each cell passes ~3e9).

    Scale shape: one scalar aggregate over the fact table — four
    conditional sums with map-side partial aggregation; output is one
    row."""
    e = Tables(spark, sf_dir).events
    pred = F.when(F.col("value") >= 100.0, 1).otherwise(0)
    actual = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    cm = e.select(pred.alias("pred"), actual.alias("actual")).agg(
        F.sum(F.col("pred") * F.col("actual")).alias("tp"),
        F.sum(F.col("pred") * (1 - F.col("actual"))).alias("fp"),
        F.sum((1 - F.col("pred")) * F.col("actual")).alias("fn"),
        F.sum((1 - F.col("pred")) * (1 - F.col("actual"))).alias("tn"),
    )
    tp, fp = F.col("tp").cast("double"), F.col("fp").cast("double")
    fn, tn = F.col("fn").cast("double"), F.col("tn").cast("double")
    return cm.select(
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.col("fn").cast("long").alias("fn"),
        F.col("tn").cast("long").alias("tn"),
        F.round((tp + tn) / (tp + fp + fn + tn) + 1e-9, 6).alias("accuracy"),
        F.round(2.0 * tp / (2.0 * tp + fp + fn) + 1e-9, 6).alias("f1"),
        F.round(
            (tp * tn - fp * fn)
            / F.sqrt((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn))
            + 1e-9,
            6,
        ).alias("mcc"),
    )


@query(
    "divergence_lang_by_source",
    oracle="""
    WITH per AS (
      SELECT source, lang, count(*) AS c FROM documents GROUP BY 1, 2),
    src AS (SELECT source, CAST(sum(c) AS DOUBLE) AS ns FROM per GROUP BY 1),
    gl AS (SELECT lang, CAST(sum(c) AS DOUBLE) AS cg FROM per GROUP BY 1),
    n AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM per),
    grid AS (
      SELECT src.source, gl.lang, src.ns,
             coalesce(per.c, 0) / src.ns AS p,
             gl.cg / n.n AS q
      FROM src CROSS JOIN gl
      LEFT JOIN per ON per.source = src.source AND per.lang = gl.lang, n)
    SELECT source,
           round(sum(0.5 * (CASE WHEN p > 0
                                 THEN p * ln(p / ((p + q) / 2)) ELSE 0 END)
                     + 0.5 * q * ln(q / ((p + q) / 2))) + 1e-9, 6) AS js_div,
           round(sqrt(0.5 * sum((sqrt(p) - sqrt(q)) * (sqrt(p) - sqrt(q))))
                 + 1e-9, 6) AS hellinger,
           round(0.5 * sum(abs(p - q)) + 1e-9, 6) AS total_variation
    FROM grid GROUP BY source ORDER BY source
    """,
)
def divergence_lang_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution drift vs the corpus: Jensen-Shannon
    divergence, Hellinger distance, and total-variation distance
    between P(lang | source) and the global P(lang) — the bounded,
    symmetric drift triad a curation pipeline screens new sources with
    (the PSI operator covers the unbounded/asymmetric case). Zero
    cells are exact: p·ln(p/m) → 0 as p → 0, and q > 0 by
    construction (every lang in the grid was observed globally).

    Scale shape: one (source, lang) aggregate, then every frame is
    domain-sized — the grid is |sources| × |langs| built from a
    broadcast cross join; the fact table is touched once."""
    d = Tables(spark, sf_dir).documents
    # the (source x lang) frame has four consumers; checkpoint so the
    # fact-table aggregate executes once
    per = (
        d.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    src = per.groupBy("source").agg(F.sum("c").cast("double").alias("ns"))
    glob = per.groupBy("lang").agg(F.sum("c").cast("double").alias("cg"))
    n = per.agg(F.sum("c").cast("double").alias("n"))
    grid = (
        src.crossJoin(F.broadcast(glob))
        .crossJoin(F.broadcast(n))
        .join(per, ["source", "lang"], "left")
        .select(
            "source",
            (F.coalesce(F.col("c"), F.lit(0)) / F.col("ns")).alias("p"),
            (F.col("cg") / F.col("n")).alias("q"),
        )
    )
    p, q = F.col("p"), F.col("q")
    m = (p + q) / 2
    js_terms = 0.5 * F.when(p > 0, p * F.log(p / m)).otherwise(
        F.lit(0.0)
    ) + 0.5 * q * F.log(q / m)
    return (
        grid.groupBy("source")
        .agg(
            F.round(F.sum(js_terms) + 1e-9, 6).alias("js_div"),
            F.round(
                F.sqrt(0.5 * F.sum((F.sqrt(p) - F.sqrt(q)) * (F.sqrt(p) - F.sqrt(q))))
                + 1e-9,
                6,
            ).alias("hellinger"),
            F.round(0.5 * F.sum(F.abs(p - q)) + 1e-9, 6).alias("total_variation"),
        )
        .orderBy("source")
    )


@query(
    "cross_correlation_click_purchase",
    oracle="""
    WITH bounds AS (
      SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
      FROM events),
    cal AS (
      SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d
      FROM bounds),
    daily AS (
      SELECT CAST(ts AS DATE) AS d,
             sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS nc,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np
      FROM events GROUP BY 1),
    grid AS (
      SELECT cal.d, coalesce(daily.nc, 0) AS nc, coalesce(daily.np, 0) AS np
      FROM cal LEFT JOIN daily USING (d)),
    lags AS (SELECT unnest(generate_series(0, 7)) AS lag),
    pairs AS (
      SELECT lags.lag, CAST(a.nc AS DOUBLE) AS x, CAST(b.np AS DOUBLE) AS y
      FROM lags
      JOIN grid a ON TRUE
      JOIN grid b ON b.d = a.d + CAST(lags.lag AS INT))
    SELECT lag, CAST(count(*) AS BIGINT) AS n_days,
           round((avg(x * y) - avg(x) * avg(y))
                 / (sqrt(avg(x * x) - avg(x) * avg(x))
                    * sqrt(avg(y * y) - avg(y) * avg(y))) + 1e-9, 6) AS ccf
    FROM pairs GROUP BY lag ORDER BY lag
    """,
)
def cross_correlation_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation function between the daily click series
    and the daily purchase series (lags 0..7): does click volume lead
    purchase volume? The calendar is densified (zero-filled) from the
    observed min/max day so a silent gap day cannot shift the lag
    alignment, and each lag's Pearson r uses the moment closed form
    over the overlapping window (the registered ACF query's fp
    sequence, applied across two series).

    Scale shape: one date-keyed aggregate over the fact table, then
    everything is day-domain-sized: an 8-row lag frame broadcast
    against the day grid, one equi-join on (day + lag), one 8-row
    output. No unpartitioned windows, no per-row ranking."""
    e = Tables(spark, sf_dir).events
    # the day frame feeds both the calendar bounds and the grid join;
    # checkpoint so the fact-table aggregate executes once
    daily = (
        e.groupBy(F.col("ts").cast("date").alias("d"))
        .agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
                "nc"
            ),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("np"),
        )
        .localCheckpoint(eager=False)
    )
    bounds = daily.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    cal = bounds.select(
        F.explode(F.sequence("d0", "d1")).alias("d")
    )
    grid = (
        cal.join(daily, "d", "left")
        .select(
            "d",
            F.coalesce(F.col("nc"), F.lit(0)).alias("nc"),
            F.coalesce(F.col("np"), F.lit(0)).alias("np"),
        )
    )
    lags = spark.range(8).select(F.col("id").cast("long").alias("lag"))
    a = grid.select(F.col("d").alias("da"), F.col("nc").cast("double").alias("x"))
    b = grid.select(F.col("d").alias("db"), F.col("np").cast("double").alias("y"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.expr("db = date_add(da, CAST(lag AS INT))"))
    )
    x, y = F.col("x"), F.col("y")
    return (
        pairs.groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(
                (F.avg(x * y) - F.avg(x) * F.avg(y))
                / (
                    F.sqrt(F.avg(x * x) - F.avg(x) * F.avg(x))
                    * F.sqrt(F.avg(y * y) - F.avg(y) * F.avg(y))
                )
                + 1e-9,
                6,
            ).alias("ccf"),
        )
        .select(
            "lag", F.col("n_days").cast("long").alias("n_days"), "ccf"
        )
        .orderBy("lag")
    )


@query(
    "robust_zscore_anomaly_daily",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             round(sum(o_totalprice), 2) AS rev
      FROM orders GROUP BY 1),
    med AS (SELECT quantile_cont(rev, 0.5) AS m FROM daily),
    mad AS (
      SELECT quantile_cont(abs(rev - med.m), 0.5) AS mad
      FROM daily, med),
    z AS (
      SELECT d, rev,
             round(0.6745 * (rev - med.m) / mad.mad + 1e-9, 4) AS rz
      FROM daily, med, mad)
    SELECT CAST(d AS TIMESTAMP_NS) AS d, rev, rz AS robust_z,
           CASE WHEN abs(rz) > 3.5 THEN TRUE ELSE FALSE END AS is_outlier
    FROM z ORDER BY abs(rz) DESC, d LIMIT 5
    """,
)
def robust_zscore_anomaly_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) z-score anomaly screen on daily order
    revenue — the outlier detector that a mean/stddev z-score cannot
    be (the anomaly inflates the mean and stddev that are supposed to
    flag it; the median and MAD have a 50% breakdown point). Daily
    revenue is rounded to cents BEFORE the quantiles so both engines
    interpolate over bit-identical inputs, z = 0.6745·(x−med)/MAD is
    rounded BEFORE the top-5 rank (round-before-rank discipline, day
    tiebreak), and |z| > 3.5 is the Iglewicz-Hoaglin cutoff.

    Scale shape: one date-keyed aggregate, then day-domain-sized
    percentile + broadcast joins; the top-5 is TakeOrderedAndProject,
    never a global sort."""
    o = Tables(spark, sf_dir).orders
    # the day frame feeds the median, the MAD, and the z projection;
    # checkpoint so the fact-table aggregate executes once
    daily = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
        .localCheckpoint(eager=False)
    )
    med = daily.agg(F.expr("percentile(rev, 0.5)").alias("m"))
    mad = (
        daily.crossJoin(F.broadcast(med))
        .agg(F.expr("percentile(abs(rev - m), 0.5)").alias("mad"))
    )
    z = (
        daily.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(mad))
        .select(
            "d",
            "rev",
            F.round(
                0.6745 * (F.col("rev") - F.col("m")) / F.col("mad") + 1e-9, 4
            ).alias("rz"),
        )
    )
    return (
        z.select(
            F.col("d").cast("timestamp_ntz").alias("d"),
            "rev",
            F.col("rz").alias("robust_z"),
            (F.abs("rz") > 3.5).alias("is_outlier"),
        )
        .orderBy(F.abs("robust_z").desc(), "d")
        .limit(5)
    )


@query(
    "cuped_variance_reduction",
    oracle="""
    WITH bounds AS (
      SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid FROM events),
    per_user AS (
      SELECT user_id,
             sum(CASE WHEN epoch_us(ts) <= bounds.mid THEN value
                      ELSE 0 END) AS x,
             sum(CASE WHEN epoch_us(ts) > bounds.mid THEN value
                      ELSE 0 END) AS y
      FROM events, bounds GROUP BY user_id),
    mom AS (
      SELECT CAST(count(*) AS DOUBLE) AS n, avg(x) AS mx, avg(y) AS my,
             avg(x * y) AS mxy, avg(x * x) AS mxx, avg(y * y) AS myy
      FROM per_user)
    SELECT CAST(n AS BIGINT) AS n_users,
           round((mxy - mx * my) / (mxx - mx * mx) + 1e-9, 4) AS theta,
           round(myy - my * my + 1e-9, 4) AS var_y,
           round(myy - my * my
                 - (mxy - mx * my) * (mxy - mx * my) / (mxx - mx * mx)
                 + 1e-9, 4) AS var_y_cuped,
           round(100.0 * (mxy - mx * my) * (mxy - mx * my)
                 / ((mxx - mx * mx) * (myy - my * my)) + 1e-9, 4)
             AS reduction_pct
    FROM mom
    """,
)
def cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Experiment Data): use each
    user's first-half spend as the covariate for their second-half
    spend, report θ = cov(X,Y)/var(X) and the variance of the adjusted
    metric var(Y) − cov²/var(X) — the standard A/B-test sensitivity
    boost, computed in its algebraically-closed form (the adjusted
    per-user values are never materialized). The period split is the
    exact integer-microsecond midpoint (bit-identical cross-engine);
    reduction_pct is the squared correlation ×100.

    Scale shape: one scalar min/max pass, one user-keyed conditional
    aggregate, one 6-moment scalar aggregate — nothing wider than the
    user domain, no second pass over the fact table."""
    e = Tables(spark, sf_dir).events
    us = epoch_us("ts")
    bounds = e.agg(
        ((F.min(us) + F.max(us)) - ((F.min(us) + F.max(us)) % 2)).alias("mid2")
    ).select((F.col("mid2") / 2).cast("long").alias("mid"))
    per_user = (
        e.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(us <= F.col("mid"), F.col("value")).otherwise(0.0)).alias(
                "x"
            ),
            F.sum(F.when(us > F.col("mid"), F.col("value")).otherwise(0.0)).alias(
                "y"
            ),
        )
    )
    mom = per_user.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        F.avg(F.col("x") * F.col("y")).alias("mxy"),
        F.avg(F.col("x") * F.col("x")).alias("mxx"),
        F.avg(F.col("y") * F.col("y")).alias("myy"),
    )
    cov = F.col("mxy") - F.col("mx") * F.col("my")
    vx = F.col("mxx") - F.col("mx") * F.col("mx")
    vy = F.col("myy") - F.col("my") * F.col("my")
    return mom.select(
        F.col("n").cast("long").alias("n_users"),
        F.round(cov / vx + 1e-9, 4).alias("theta"),
        F.round(vy + 1e-9, 4).alias("var_y"),
        F.round(vy - cov * cov / vx + 1e-9, 4).alias("var_y_cuped"),
        F.round(100.0 * cov * cov / (vx * vy) + 1e-9, 4).alias("reduction_pct"),
    )


@query(
    "sprt_purchase_rate_crossing",
    oracle="""
    WITH trials AS (
      SELECT epoch_us(ts) AS us, event_id,
             CASE WHEN event_type = 'purchase'
                  THEN 405465 ELSE -133531 END AS inc
      FROM events WHERE event_type IN ('click', 'purchase')),
    walk AS (
      SELECT row_number() OVER (ORDER BY us, event_id) AS idx,
             sum(inc) OVER (ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS llr
      FROM trials),
    total AS (SELECT CAST(count(*) AS BIGINT) AS n_trials FROM walk),
    crossed AS (
      SELECT idx, llr FROM walk
      WHERE llr >= 2944439 OR llr <= -2944439
      ORDER BY idx LIMIT 1)
    SELECT total.n_trials,
           CAST(coalesce(crossed.idx, -1) AS BIGINT) AS cross_at,
           CASE WHEN crossed.idx IS NULL THEN 'none'
                WHEN crossed.llr > 0 THEN 'accept_h1'
                ELSE 'accept_h0' END AS decision,
           round(coalesce(crossed.llr, 0) / 1e6 + 1e-9, 6) AS llr_at_cross
    FROM total LEFT JOIN crossed ON TRUE
    """,
)
def sprt_purchase_rate_crossing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's Sequential Probability Ratio Test on the purchase-vs-click
    stream: H0 p=0.2 vs H1 p=0.3, α=β=0.05. Each trial adds
    ln(0.3/0.2) on success or ln(0.7/0.8) on failure; the walk stops at
    ln((1−β)/α) = ±2.944439. The increments are EXACT INTEGER
    micro-nats (+405465 / −133531, quantized constants in both
    engines) so the cumulative walk is integer arithmetic — no
    float-summation-order divergence can flip a near-boundary crossing
    (global_cumsum's partition-carry association differs from a
    sequential window sum by ULPs on doubles; on longs it is exact).

    Scale shape: one distributed exclusive cumsum over the trial
    stream's total order (ts, event_id) computing BOTH the walk and the
    trial index in a single range shuffle (global_cumsum's multi-value
    form), one filtered TakeOrdered(1) for the first crossing."""
    e = Tables(spark, sf_dir).events.filter(
        F.col("event_type").isin("click", "purchase")
    )
    trials = e.select(
        epoch_us("ts").alias("us"),
        "event_id",
        F.when(F.col("event_type") == "purchase", F.lit(405465))
        .otherwise(F.lit(-133531))
        .alias("inc"),
        F.lit(1).alias("one"),
    )
    # n_parts: unlike the distinct-value-frame cumsums elsewhere, this
    # one runs over the RAW trial stream (data-sized, not domain-
    # bounded), and the default 8 range partitions cap the sort+window
    # at 8-way parallelism (measured: 49.8 s at 100M events, x13.9 on
    # the last decade; 64 parts removes the cap). Safe to vary: the
    # walk is exact int64, so the carry association cannot change any
    # output bit.
    walk = global_cumsum(
        trials,
        ["us", "event_id"],
        ["inc", "one"],
        out=["prior_llr", "prior_n"],
        n_parts=64,
    ).select(
        (F.col("prior_n") + 1).alias("idx"),
        (F.col("prior_llr") + F.col("inc")).alias("llr"),
    )
    # count the pre-cumsum frame: walk's checkpointed shuffle is reused
    # by the crossing filter, and the total needs no window at all
    total = trials.agg(F.count(F.lit(1)).alias("n_trials"))
    crossed = (
        walk.filter((F.col("llr") >= 2944439) | (F.col("llr") <= -2944439))
        .orderBy("idx")
        .limit(1)
    )
    return total.join(crossed, F.lit(True), "left").select(
        F.col("n_trials").cast("long").alias("n_trials"),
        F.coalesce(F.col("idx"), F.lit(-1)).cast("long").alias("cross_at"),
        F.when(F.col("idx").isNull(), F.lit("none"))
        .when(F.col("llr") > 0, F.lit("accept_h1"))
        .otherwise(F.lit("accept_h0"))
        .alias("decision"),
        F.round(F.coalesce(F.col("llr"), F.lit(0)) / 1e6 + 1e-9, 6).alias(
            "llr_at_cross"
        ),
    )


@query(
    "pairwise_welch_priority_means",
    oracle="""
    WITH g AS (
      SELECT o_orderpriority AS p, CAST(count(*) AS DOUBLE) AS n,
             avg(o_totalprice) AS m, var_samp(o_totalprice) AS s2
      FROM orders GROUP BY 1),
    pairs AS (
      SELECT a.p AS p_a, b.p AS p_b,
             round(a.m - b.m + 1e-9, 4) AS mean_diff,
             round((a.m - b.m) / sqrt(a.s2 / a.n + b.s2 / b.n) + 1e-9, 4) AS z
      FROM g a JOIN g b ON a.p < b.p)
    SELECT p_a, p_b, mean_diff, z,
           CASE WHEN abs(z) > 2.807034 THEN TRUE ELSE FALSE END
             AS significant_bonferroni
    FROM pairs ORDER BY p_a, p_b
    """,
)
def pairwise_welch_priority_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-hoc pairwise comparisons after the (staged-r10) ANOVA:
    every pair of order priorities gets a Welch z = (m̄_a − m̄_b) /
    √(s²_a/n_a + s²_b/n_b), flagged at the Bonferroni-adjusted
    two-sided 5% level for the 10 pairs (literal critical value
    z_{0.05/20} = 2.807034; the flag compares the ROUNDED z, so a
    boundary case cannot split cross-engine). This is the "which
    groups actually differ" follow-up the omnibus F cannot answer.

    Scale shape: one group-stats aggregate (k = 5 rows), then a
    broadcast self-join of the k-row frame — the fact table is touched
    once; the pair frame is k(k−1)/2 rows."""
    o = Tables(spark, sf_dir).orders
    # the k-row stats frame is self-joined; checkpoint so the
    # fact-table aggregate executes once, not once per join side
    g = (
        o.groupBy(F.col("o_orderpriority").alias("p"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.avg("o_totalprice").alias("m"),
            F.var_samp("o_totalprice").alias("s2"),
        )
        .localCheckpoint(eager=False)
    )
    a = g.select(
        F.col("p").alias("p_a"), F.col("n").alias("na"),
        F.col("m").alias("ma"), F.col("s2").alias("sa"),
    )
    b = g.select(
        F.col("p").alias("p_b"), F.col("n").alias("nb"),
        F.col("m").alias("mb"), F.col("s2").alias("sb"),
    )
    z = F.round(
        (F.col("ma") - F.col("mb"))
        / F.sqrt(F.col("sa") / F.col("na") + F.col("sb") / F.col("nb"))
        + 1e-9,
        4,
    )
    return (
        a.join(F.broadcast(b), F.col("p_a") < F.col("p_b"))
        .select(
            "p_a",
            "p_b",
            F.round(F.col("ma") - F.col("mb") + 1e-9, 4).alias("mean_diff"),
            z.alias("z"),
            (F.abs(z) > 2.807034).alias("significant_bonferroni"),
        )
        .orderBy("p_a", "p_b")
    )


@query(
    "fuzzy_name_pairs_blocked",
    oracle="""
    WITH p AS (SELECT p_partkey, p_name, p_brand, p_size FROM part),
    pairs AS (
      SELECT a.p_brand AS brand,
             levenshtein(a.p_name, b.p_name) AS d
      FROM p a JOIN p b
        ON a.p_brand = b.p_brand AND a.p_size = b.p_size
       AND a.p_partkey < b.p_partkey
      WHERE levenshtein(a.p_name, b.p_name) <= 4)
    SELECT brand, CAST(count(*) AS BIGINT) AS n_fuzzy_pairs,
           CAST(sum(CASE WHEN d = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact_dups,
           CAST(min(d) AS INT) AS min_dist,
           round(avg(CAST(d AS DOUBLE)) + 1e-9, 4) AS avg_dist
    FROM pairs GROUP BY brand ORDER BY brand
    """,
)
def fuzzy_name_pairs_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy-duplicate detection on part names: candidate pairs
    share a (brand, size) block, the JVM built-in edit distance
    (`F.levenshtein`, byte-identical to DuckDB's) keeps pairs within
    distance 4, and the per-brand report counts fuzzy pairs, exact
    name collisions, and the distance profile. This is the
    record-linkage BLOCKING pattern: the quadratic comparison runs
    only inside blocks, so total work is Σ_b |b|² — with a bounded
    block key (brand × size), pair count grows quadratically in rows
    per block; at 100 TB the block key must be widened (brand × size ×
    name-prefix) to hold |b| flat, which changes only the join keys.

    Scale shape: one self-equi-join on the block key (shuffle-hash on
    a bounded domain), the distance filter applied pre-aggregation, a
    brand-domain output. No cross join anywhere."""
    p = Tables(spark, sf_dir).part.select("p_partkey", "p_name", "p_brand", "p_size")
    a = p.select(
        F.col("p_partkey").alias("ka"), F.col("p_name").alias("na"),
        F.col("p_brand").alias("brand"), F.col("p_size").alias("sz"),
    )
    b = p.select(
        F.col("p_partkey").alias("kb"), F.col("p_name").alias("nb"),
        F.col("p_brand").alias("brand"), F.col("p_size").alias("sz"),
    )
    pairs = (
        a.join(b, ["brand", "sz"])
        .filter(F.col("ka") < F.col("kb"))
        .select("brand", F.levenshtein("na", "nb").alias("d"))
        .filter(F.col("d") <= 4)
    )
    return (
        pairs.groupBy("brand")
        .agg(
            F.count(F.lit(1)).alias("n_fuzzy_pairs"),
            F.sum(F.when(F.col("d") == 0, 1).otherwise(0)).alias("n_exact_dups"),
            F.min("d").cast("int").alias("min_dist"),
            F.round(F.avg(F.col("d").cast("double")) + 1e-9, 4).alias("avg_dist"),
        )
        .select(
            "brand",
            F.col("n_fuzzy_pairs").cast("long").alias("n_fuzzy_pairs"),
            F.col("n_exact_dups").cast("long").alias("n_exact_dups"),
            "min_dist",
            "avg_dist",
        )
        .orderBy("brand")
    )


@query(
    "markov_event_transitions",
    oracle="""
    WITH seq AS (
      SELECT event_type AS t,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS nxt
      FROM events),
    c AS (
      SELECT t, nxt, count(*) AS cnt FROM seq
      WHERE nxt IS NOT NULL GROUP BY t, nxt),
    tot AS (SELECT t, CAST(sum(cnt) AS DOUBLE) AS nt FROM c GROUP BY t)
    SELECT c.t AS from_type, c.nxt AS to_type,
           CAST(c.cnt AS BIGINT) AS cnt,
           round(c.cnt / tot.nt + 1e-9, 6) AS prob
    FROM c JOIN tot USING (t) ORDER BY from_type, to_type
    """,
)
def markov_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next type | current type), estimated from every
    adjacent pair in each user's (ts, event_id)-ordered stream — the
    session-behavior model behind next-event prediction and anomalous-
    funnel detection. The sequence order is a total order (event_id
    breaks ts ties), so the lag pairing is deterministic cross-engine.

    Scale shape: a user-PARTITIONED window (never unpartitioned — each
    user's stream sorts locally in its hash partition), one bounded
    (k×k)-domain aggregate, a broadcast row-marginal join."""
    e = Tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("t"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    # the (k x k)-bounded count frame feeds both the output join and the
    # row marginals — checkpoint it so the window-lead subtree (the only
    # fact-table-sized work) executes once, not twice
    c = (
        seq.groupBy("t", "nxt")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    tot = c.groupBy("t").agg(F.sum("cnt").cast("double").alias("nt"))
    return (
        c.join(F.broadcast(tot), "t")
        .select(
            F.col("t").alias("from_type"),
            F.col("nxt").alias("to_type"),
            F.col("cnt").cast("long").alias("cnt"),
            F.round(F.col("cnt") / F.col("nt") + 1e-9, 6).alias("prob"),
        )
        .orderBy("from_type", "to_type")
    )


@query(
    "class_balance_weights",
    oracle="""
    WITH c AS (
      SELECT event_type, CAST(count(*) AS DOUBLE) AS nc
      FROM events GROUP BY 1),
    tot AS (SELECT sum(nc) AS n, CAST(count(*) AS DOUBLE) AS k FROM c),
    eff AS (
      SELECT event_type, nc,
             (1.0 - power(0.9999, nc)) / (1.0 - 0.9999) AS en
      FROM c),
    s AS (SELECT sum(1.0 / en) AS inv_en_sum FROM eff)
    SELECT eff.event_type,
           CAST(eff.nc AS BIGINT) AS n_samples,
           round(tot.n / (tot.k * eff.nc) + 1e-9, 6) AS inverse_freq_weight,
           round(eff.en + 1e-9, 4) AS effective_n,
           round((1.0 / eff.en) * tot.k / s.inv_en_sum + 1e-9, 6)
             AS effective_num_weight
    FROM eff, tot, s ORDER BY eff.event_type
    """,
)
def class_balance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balancing sample weights per event type, two schemes a
    training pipeline feeds its loss or sampler: inverse frequency
    N/(k·n_c), and the effective-number-of-samples reweighting of Cui
    et al. (CVPR 2019) — E_c = (1−β^{n_c})/(1−β) with β = 0.9999,
    weights ∝ 1/E_c normalized to sum to k. The effective-number form
    saturates for huge classes (a class's marginal value decays as
    samples overlap), which is exactly the behavior wanted at corpus
    scale where raw inverse frequency over-boosts rare noise classes.

    Scale shape: one class-domain aggregate over the fact table; every
    later frame is k rows, combined via broadcast scalars."""
    e = Tables(spark, sf_dir).events
    # the k-row class frame feeds the totals and the weights; checkpoint
    # so the fact-table aggregate executes once
    c = (
        e.groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("double").alias("nc"))
        .localCheckpoint(eager=False)
    )
    tot = c.agg(F.sum("nc").alias("n"), F.count(F.lit(1)).cast("double").alias("k"))
    eff = c.select(
        "event_type",
        "nc",
        ((1.0 - F.pow(F.lit(0.9999), F.col("nc"))) / (1.0 - 0.9999)).alias("en"),
    )
    s = eff.agg(F.sum(1.0 / F.col("en")).alias("inv_en_sum"))
    return (
        eff.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(s))
        .select(
            "event_type",
            F.col("nc").cast("long").alias("n_samples"),
            F.round(F.col("n") / (F.col("k") * F.col("nc")) + 1e-9, 6).alias(
                "inverse_freq_weight"
            ),
            F.round(F.col("en") + 1e-9, 4).alias("effective_n"),
            F.round(
                (1.0 / F.col("en")) * F.col("k") / F.col("inv_en_sum") + 1e-9, 6
            ).alias("effective_num_weight"),
        )
        .orderBy("event_type")
    )


@query(
    "lognormal_fit_totalprice",
    oracle="""
    WITH lx AS (
      SELECT ln(o_totalprice) AS l, o_totalprice AS x
      FROM orders WHERE o_totalprice > 0),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n, avg(l) AS mu,
             avg(l * l) - avg(l) * avg(l) AS sig2, avg(x) AS actual_mean
      FROM lx)
    SELECT n, round(mu + 1e-9, 6) AS mu, round(sqrt(sig2) + 1e-9, 6) AS sigma,
           round(exp(mu) + 1e-9, 4) AS implied_median,
           round(exp(mu + sig2 / 2.0) + 1e-9, 4) AS implied_mean,
           round(actual_mean + 1e-9, 4) AS actual_mean,
           round(exp(mu + sig2 / 2.0) / actual_mean + 1e-9, 6)
             AS implied_over_actual
    FROM mom
    """,
)
def lognormal_fit_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-normal fit of order totals by moment matching in log space
    (μ̂ = mean ln x, σ̂² = population variance of ln x), with the
    implied median e^μ and mean e^{μ+σ²/2} compared against the
    empirical mean — the fit-quality screen (implied/actual far from 1
    ⇒ the right tail is heavier than log-normal, e.g. Pareto, and
    downstream samplers must switch estimators). Revenue-like columns
    are the canonical log-normal candidates.

    Scale shape: one scalar moment aggregate over the filtered fact
    table; partial aggregation (map-side combine) applies to all four
    moments. Output is one row."""
    o = Tables(spark, sf_dir).orders.filter(F.col("o_totalprice") > 0)
    lx = o.select(
        F.log("o_totalprice").alias("l"), F.col("o_totalprice").alias("x")
    )
    mom = lx.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("l").alias("mu"),
        (F.avg(F.col("l") * F.col("l")) - F.avg("l") * F.avg("l")).alias("sig2"),
        F.avg("x").alias("actual_mean"),
    )
    return mom.select(
        F.col("n").cast("long").alias("n"),
        F.round(F.col("mu") + 1e-9, 6).alias("mu"),
        F.round(F.sqrt("sig2") + 1e-9, 6).alias("sigma"),
        F.round(F.exp("mu") + 1e-9, 4).alias("implied_median"),
        F.round(F.exp(F.col("mu") + F.col("sig2") / 2.0) + 1e-9, 4).alias(
            "implied_mean"
        ),
        F.round(F.col("actual_mean") + 1e-9, 4).alias("actual_mean"),
        F.round(
            F.exp(F.col("mu") + F.col("sig2") / 2.0) / F.col("actual_mean")
            + 1e-9,
            6,
        ).alias("implied_over_actual"),
    )


# ---------------------------------------------------------------------------
# Wave 3 — experimentation & causal toolkit: randomization test, SRM,
# power/MDE, attribution models
# ---------------------------------------------------------------------------


@query(
    "randomization_test_mean_diff",
    oracle=f"""
    WITH s AS (
      SELECT event_id, value, event_type
      FROM events WHERE event_type IN ('click', 'view')),
    st AS (
      SELECT count(*) AS n,
             sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n1,
             sum(value) AS sv,
             sum(CASE WHEN event_type = 'click' THEN value ELSE 0 END) AS s1
      FROM s),
    perms AS (SELECT unnest(generate_series(0, 15)) AS k),
    asg AS (
      SELECT perms.k, s.value,
             CASE WHEN ((((s.event_id * 16 + perms.k + 1) % 2147483647)
                         * 48271) % 2147483647 + 0.5) / 2147483647.0
                  < (SELECT CAST(n1 AS DOUBLE) / n FROM st)
                  THEN 1 ELSE 0 END AS fa
      FROM s CROSS JOIN perms),
    pd AS (
      SELECT k, sum(value * fa) AS sa, sum(fa) AS na,
             sum(value) AS sv, count(*) AS n
      FROM asg GROUP BY k),
    dif AS (
      SELECT k, sa / nullif(na, 0)
                - (sv - sa) / nullif(n - na, 0) AS d
      FROM pd),
    obs AS (
      SELECT n, n1,
             s1 / n1 - (sv - s1) / (n - n1) AS od
      FROM st)
    SELECT (SELECT CAST(n AS BIGINT) FROM obs) AS n_used,
           (SELECT CAST(n1 AS BIGINT) FROM obs) AS n_click,
           (SELECT round(od + 1e-9, 6) FROM obs) AS obs_diff,
           CAST(sum(CASE WHEN round(abs(d) + 1e-9, 6)
                              >= (SELECT round(abs(od) + 1e-9, 6) FROM obs)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_ge,
           round((sum(CASE WHEN round(abs(d) + 1e-9, 6)
                                >= (SELECT round(abs(od) + 1e-9, 6) FROM obs)
                       THEN 1 ELSE 0 END) + 1) / 17.0 + 1e-9, 6) AS p_value
    FROM dif
    """,
)
def randomization_test_mean_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomization (approximate permutation) test for the difference
    in mean `value` between click and view events: 16 pseudo-random
    re-assignments of rows to the two groups, each drawn from the
    ENGINE-PORTABLE Lehmer stream keyed by (event_id, perm) — exact
    int64 arithmetic on both engines, so the assignment is identical
    bit-for-bit with no RNG state — and the two-sided p-value is the
    add-one-smoothed fraction of permuted |mean diff|s that reach the
    observed |diff| (compared after the repo's epsilon-shifted 6 dp
    rounding, so a partial-aggregation ULP cannot flip the count).

    Scale shape: one pass for the observed stats, then ONE aggregate
    over rows x 16 literal perms (a broadcast crossJoin with a 16-row
    frame — map-side combine collapses it to 16 groups before the
    shuffle). No explode-to-disk, no per-row window, no collect; the
    group-fraction scalar rides a broadcast 1-row frame."""
    e = (
        Tables(spark, sf_dir)
        .events.filter(F.col("event_type").isin("click", "view"))
        .select("event_id", "value", "event_type")
    )
    st = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("n1"),
        F.sum("value").alias("sv"),
        F.sum(F.when(F.col("event_type") == "click", F.col("value")).otherwise(0.0)).alias("s1"),
    )
    perms = spark.range(16).select(F.col("id").alias("k"))
    asg = (
        e.crossJoin(F.broadcast(perms))
        .crossJoin(F.broadcast(st))
        .select(
            "k",
            "value",
            F.when(
                (
                    ((F.col("event_id") * 16 + F.col("k") + 1) % _LEHMER_M)
                    * _LEHMER_A
                    % _LEHMER_M
                    + 0.5
                )
                / float(_LEHMER_M)
                < F.col("n1").cast("double") / F.col("n"),
                1,
            )
            .otherwise(0)
            .alias("fa"),
        )
    )
    pd = asg.groupBy("k").agg(
        F.sum(F.col("value") * F.col("fa")).alias("sa"),
        F.sum("fa").alias("na"),
        F.sum("value").alias("svp"),
        F.count(F.lit(1)).alias("np"),
    )
    dif = pd.select(
        (
            F.col("sa") / F.nullif(F.col("na"), F.lit(0))
            - (F.col("svp") - F.col("sa"))
            / F.nullif((F.col("np") - F.col("na")), F.lit(0))
        ).alias("d")
    )
    obs = st.select(
        "n",
        "n1",
        (
            F.col("s1") / F.col("n1")
            - (F.col("sv") - F.col("s1")) / (F.col("n") - F.col("n1"))
        ).alias("od"),
    )
    return (
        dif.crossJoin(F.broadcast(obs))
        .agg(
            F.max("n").cast("long").alias("n_used"),
            F.max("n1").cast("long").alias("n_click"),
            F.round(F.max("od") + 1e-9, 6).alias("obs_diff"),
            F.sum(
                F.when(
                    F.round(F.abs(F.col("d")) + 1e-9, 6)
                    >= F.round(F.abs(F.col("od")) + 1e-9, 6),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_ge"),
        )
        .select(
            "n_used",
            "n_click",
            "obs_diff",
            "n_ge",
            F.round((F.col("n_ge") + 1) / 17.0 + 1e-9, 6).alias("p_value"),
        )
    )


@query(
    "srm_check_assignment",
    oracle=f"""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    b AS (
      SELECT CAST((((user_id + 1) % 2147483647) * 48271) % 2147483647
                  AS BIGINT) % 2 AS bucket
      FROM u),
    c AS (
      SELECT sum(CASE WHEN bucket = 0 THEN 1 ELSE 0 END) AS n_a,
             sum(CASE WHEN bucket = 1 THEN 1 ELSE 0 END) AS n_b
      FROM b)
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           round(CAST(n_a - n_b AS DOUBLE) * (n_a - n_b)
                 / (n_a + n_b) + 1e-9, 6) AS chi2,
           CASE WHEN CAST(n_a - n_b AS DOUBLE) * (n_a - n_b)
                     / (n_a + n_b) > 3.841459 THEN 1 ELSE 0 END AS srm_detected
    FROM c
    """,
)
def srm_check_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch (SRM) guardrail for a 50/50 experiment
    split: users are assigned to arms by the engine-portable Lehmer
    hash of user_id (deterministic, seedless, identical on both
    engines), and the observed arm counts are tested against the
    planned ratio with the 1-df chi-square ((n_a-n_b)^2/N for a 50/50
    plan). srm_detected fires at the 5% critical value 3.841459 — the
    standard pre-analysis data-quality gate every A/B platform runs.

    Scale shape: one distinct on user_id (16-byte-key shuffle), one
    integer aggregate; the chi-square runs on two exact int64 counts
    cast to double only at the final division."""
    u = Tables(spark, sf_dir).events.select("user_id").distinct()
    b = u.select(
        (((F.col("user_id") + 1) % _LEHMER_M) * _LEHMER_A % _LEHMER_M % 2).alias(
            "bucket"
        )
    )
    c = b.agg(
        F.sum(F.when(F.col("bucket") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("bucket") == 1, 1).otherwise(0)).alias("n_b"),
    )
    chi2 = (
        (F.col("n_a") - F.col("n_b")).cast("double")
        * (F.col("n_a") - F.col("n_b"))
        / (F.col("n_a") + F.col("n_b"))
    )
    return c.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(chi2 + 1e-9, 6).alias("chi2"),
        F.when(chi2 > 3.841459, 1).otherwise(0).alias("srm_detected"),
    )


@query(
    "ab_power_mde",
    oracle=f"""
    WITH pu AS (
      SELECT user_id,
             CAST((((user_id + 1) % 2147483647) * 48271) % 2147483647
                  AS BIGINT) % 2 AS bucket,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY user_id),
    arms AS (
      SELECT sum(CASE WHEN bucket = 0 THEN 1 ELSE 0 END) AS n_a,
             sum(CASE WHEN bucket = 1 THEN 1 ELSE 0 END) AS n_b,
             sum(CASE WHEN bucket = 0 THEN conv ELSE 0 END) AS c_a,
             sum(CASE WHEN bucket = 1 THEN conv ELSE 0 END) AS c_b
      FROM pu),
    m AS (
      SELECT n_a, n_b, c_a, c_b,
             CAST(c_a AS DOUBLE) / n_a AS p_a,
             CAST(c_b AS DOUBLE) / n_b AS p_b,
             CAST(c_a + c_b AS DOUBLE) / (n_a + n_b) AS p_pool
      FROM arms),
    f AS (
      SELECT n_a, n_b, p_a, p_b, p_pool,
             (1.959964 + 0.841621)
               * sqrt(p_pool * (1 - p_pool) * (1.0 / n_a + 1.0 / n_b)) AS mde,
             abs(p_b - p_a) AS adiff
      FROM m)
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           round(p_a + 1e-9, 6) AS p_a, round(p_b + 1e-9, 6) AS p_b,
           round(p_pool + 1e-9, 6) AS p_pool,
           round(mde + 1e-9, 6) AS mde_abs,
           round(adiff + 1e-9, 6) AS abs_diff,
           CASE WHEN round(adiff + 1e-9, 6) >= round(mde + 1e-9, 6)
                THEN 1 ELSE 0 END AS powered
    FROM f
    """,
)
def ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion power analysis for the Lehmer-hash A/B split:
    per-user purchase conversion by arm, pooled rate, and the minimum
    detectable effect at alpha=5% two-sided / 80% power in the standard
    closed form MDE = (z_{0.975}+z_{0.80}) * sqrt(p(1-p)(1/n_a+1/n_b)),
    with `powered` flagging whether the observed |p_b - p_a| clears it
    (compared after the shared 6 dp epsilon-shifted rounding so both
    engines flip together). The z constants are literals, so no
    normal-quantile implementation has to agree across engines.

    Scale shape: one user-keyed aggregate over the fact table, one
    4-count reduction; everything after is scalar arithmetic on exact
    integer counts."""
    pu = (
        Tables(spark, sf_dir)
        .events.groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("conv")
        )
        .select(
            (((F.col("user_id") + 1) % _LEHMER_M) * _LEHMER_A % _LEHMER_M % 2).alias(
                "bucket"
            ),
            "conv",
        )
    )
    arms = pu.agg(
        F.sum(F.when(F.col("bucket") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("bucket") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("bucket") == 0, F.col("conv")).otherwise(0)).alias("c_a"),
        F.sum(F.when(F.col("bucket") == 1, F.col("conv")).otherwise(0)).alias("c_b"),
    )
    m = arms.select(
        "n_a",
        "n_b",
        (F.col("c_a").cast("double") / F.col("n_a")).alias("p_a"),
        (F.col("c_b").cast("double") / F.col("n_b")).alias("p_b"),
        (
            (F.col("c_a") + F.col("c_b")).cast("double")
            / (F.col("n_a") + F.col("n_b"))
        ).alias("p_pool"),
    )
    f = m.select(
        "n_a",
        "n_b",
        "p_a",
        "p_b",
        "p_pool",
        (
            F.lit(1.959964 + 0.841621)
            * F.sqrt(
                F.col("p_pool")
                * (1 - F.col("p_pool"))
                * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
            )
        ).alias("mde"),
        F.abs(F.col("p_b") - F.col("p_a")).alias("adiff"),
    )
    return f.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(F.col("p_a") + 1e-9, 6).alias("p_a"),
        F.round(F.col("p_b") + 1e-9, 6).alias("p_b"),
        F.round(F.col("p_pool") + 1e-9, 6).alias("p_pool"),
        F.round(F.col("mde") + 1e-9, 6).alias("mde_abs"),
        F.round(F.col("adiff") + 1e-9, 6).alias("abs_diff"),
        F.when(
            F.round(F.col("adiff") + 1e-9, 6) >= F.round(F.col("mde") + 1e-9, 6), 1
        )
        .otherwise(0)
        .alias("powered"),
    )


@query(
    "attribution_credit_models",
    oracle="""
    WITH fpu AS (
      SELECT user_id, min(epoch_us(ts)) AS pus
      FROM events WHERE event_type = 'purchase' GROUP BY user_id),
    fpid AS (
      SELECT e.user_id, fpu.pus, min(e.event_id) AS pid
      FROM events e JOIN fpu ON e.user_id = fpu.user_id
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) = fpu.pus
      GROUP BY e.user_id, fpu.pus),
    path AS (
      SELECT e.user_id, e.event_type, epoch_us(e.ts) AS us, e.event_id
      FROM events e JOIN fpid ON e.user_id = fpid.user_id
      WHERE e.event_type <> 'purchase'
        AND (epoch_us(e.ts) < fpid.pus
             OR (epoch_us(e.ts) = fpid.pus AND e.event_id < fpid.pid))),
    ranked AS (
      SELECT event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY us, event_id) AS rn,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY us DESC, event_id DESC) AS rnd,
             count(*) OVER (PARTITION BY user_id) AS cnt
      FROM path)
    SELECT event_type,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS first_touch,
           CAST(sum(CASE WHEN rnd = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS last_touch,
           round(sum(1.0 / cnt) + 1e-9, 4) AS linear_credit
    FROM ranked GROUP BY event_type ORDER BY event_type
    """,
)
def attribution_credit_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution over each user's pre-conversion path:
    for every user who purchased, the events strictly before their
    FIRST purchase (exact integer-microsecond comparison with event_id
    tiebreak — no float timestamp math) form the path, and each
    event_type accumulates credit under three standard models at once:
    first-touch (1 to the opening event), last-touch (1 to the final
    pre-purchase event), and linear (1/len(path) to every step).

    Scale shape: one purchase-keyed aggregate for the first-conversion
    frontier (two-level integer min — the struct-min closed form), one
    join back on user_id, two user-partitioned windows (each partition
    is one user's path — no single-task window), one type-keyed
    aggregate. The linear credits are double sums rounded at 4 dp."""
    e = Tables(spark, sf_dir).events
    us = epoch_us(F.col("ts"))
    fp = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(F.struct(us.alias("us"), F.col("event_id").alias("id"))).alias("fp"))
        .select("user_id", F.col("fp.us").alias("pus"), F.col("fp.id").alias("pid"))
    )
    path = (
        e.filter(F.col("event_type") != "purchase")
        .join(fp, "user_id")
        .filter(
            (us < F.col("pus"))
            | ((us == F.col("pus")) & (F.col("event_id") < F.col("pid")))
        )
        .select("user_id", "event_type", us.alias("us"), "event_id")
    )
    w_asc = Window.partitionBy("user_id").orderBy("us", "event_id")
    w_desc = Window.partitionBy("user_id").orderBy(
        F.desc("us"), F.desc("event_id")
    )
    w_all = Window.partitionBy("user_id")
    ranked = path.select(
        "event_type",
        F.row_number().over(w_asc).alias("rn"),
        F.row_number().over(w_desc).alias("rnd"),
        F.count(F.lit(1)).over(w_all).alias("cnt"),
    )
    return (
        ranked.groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
            .cast("long")
            .alias("first_touch"),
            F.sum(F.when(F.col("rnd") == 1, 1).otherwise(0))
            .cast("long")
            .alias("last_touch"),
            F.round(F.sum(1.0 / F.col("cnt")) + 1e-9, 4).alias("linear_credit"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Wave 3 — block-design nonparametrics: Cochran's Q, Page's L,
# Jonckheere-Terpstra ordered trend; survival: Nelson-Aalen
# ---------------------------------------------------------------------------


@query(
    "cochran_q_daily_types",
    oracle="""
    WITH bounds AS (
      SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
      FROM events),
    cal AS (
      SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d
      FROM bounds),
    types AS (SELECT DISTINCT event_type AS t FROM events),
    daily AS (
      SELECT CAST(ts AS DATE) AS d, event_type AS t, count(*) AS c
      FROM events GROUP BY 1, 2),
    grid AS (
      SELECT cal.d, types.t, coalesce(daily.c, 0) AS c
      FROM cal CROSS JOIN types
      LEFT JOIN daily ON daily.d = cal.d AND daily.t = types.t),
    tot AS (
      SELECT t, sum(c) AS tc FROM grid GROUP BY t),
    nd AS (SELECT count(*) AS ndays FROM cal),
    x AS (
      SELECT grid.d, grid.t,
             CASE WHEN grid.c * nd.ndays >= tot.tc THEN 1 ELSE 0 END AS x
      FROM grid JOIN tot ON tot.t = grid.t CROSS JOIN nd),
    rows_ AS (SELECT d, sum(x) AS r FROM x GROUP BY d),
    cols_ AS (SELECT t, sum(x) AS c FROM x GROUP BY t),
    k_ AS (SELECT count(*) AS k FROM types),
    agg AS (
      SELECT (SELECT k FROM k_) AS k,
             (SELECT count(*) FROM rows_) AS b,
             (SELECT sum(r) FROM rows_) AS n,
             (SELECT sum(CAST(c AS DOUBLE) * c) FROM cols_) AS sc2,
             (SELECT sum(CAST(r AS DOUBLE) * r) FROM rows_) AS sr2)
    SELECT CAST(k AS BIGINT) AS k, CAST(b AS BIGINT) AS n_blocks,
           CAST(n AS BIGINT) AS n_success,
           round((k - 1) * (k * sc2 - CAST(n AS DOUBLE) * n)
                 / nullif(k * n - sr2, 0) + 1e-9, 6) AS q_stat,
           CAST(k - 1 AS BIGINT) AS df
    FROM agg
    """,
)
def cochran_q_daily_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q test for marginal homogeneity of k related binary
    outcomes: blocks are calendar days (densified from the observed
    min/max so a gap day is an all-zero block, not a silently dropped
    one), treatments are the event types, and the binary response is
    "did this type run at or above its mean daily volume that day" —
    an EXACT integer comparison (c * ndays >= total) so no float
    threshold can disagree across engines. Q = (k-1)(k*sum C_j^2 - N^2)
    / (k*N - sum R_i^2) with the standard df = k-1.

    Scale shape: one (day, type)-keyed aggregate over the fact table,
    then every frame is day-domain- or type-domain-sized; the grid is
    a broadcast crossJoin of the day calendar with the distinct-type
    frame. Counts stay int64 until the final double division."""
    e = Tables(spark, sf_dir).events
    daily = (
        e.groupBy(F.col("ts").cast("date").alias("d"), F.col("event_type").alias("t"))
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    bounds = daily.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    cal = bounds.select(F.explode(F.sequence("d0", "d1")).alias("d"))
    types = daily.select("t").distinct()
    grid = (
        cal.crossJoin(F.broadcast(types))
        .join(daily, ["d", "t"], "left")
        .select("d", "t", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
    )
    tot = grid.groupBy("t").agg(F.sum("c").alias("tc"))
    nd = cal.agg(F.count(F.lit(1)).alias("ndays"))
    x = (
        grid.join(F.broadcast(tot), "t")
        .crossJoin(F.broadcast(nd))
        .select(
            "d",
            "t",
            F.when(F.col("c") * F.col("ndays") >= F.col("tc"), 1)
            .otherwise(0)
            .alias("x"),
        )
    )
    x = x.localCheckpoint(eager=False)
    rows_ = x.groupBy("d").agg(F.sum("x").alias("r"))
    cols_ = x.groupBy("t").agg(F.sum("x").alias("c"))
    k_ = types.agg(F.count(F.lit(1)).alias("k"))
    ragg = rows_.agg(
        F.count(F.lit(1)).alias("b"),
        F.sum("r").alias("n"),
        F.sum(F.col("r").cast("double") * F.col("r")).alias("sr2"),
    )
    cagg = cols_.agg(F.sum(F.col("c").cast("double") * F.col("c")).alias("sc2"))
    agg = k_.crossJoin(F.broadcast(ragg)).crossJoin(F.broadcast(cagg))
    return agg.select(
        F.col("k").cast("long").alias("k"),
        F.col("b").cast("long").alias("n_blocks"),
        F.col("n").cast("long").alias("n_success"),
        F.round(
            (F.col("k") - 1)
            * (F.col("k") * F.col("sc2") - F.col("n").cast("double") * F.col("n"))
            / F.nullif(F.col("k") * F.col("n") - F.col("sr2"), F.lit(0.0))
            + 1e-9,
            6,
        ).alias("q_stat"),
        (F.col("k") - 1).cast("long").alias("df"),
    )


@query(
    "page_l_trend_daily",
    oracle="""
    WITH bounds AS (
      SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
      FROM events),
    cal AS (
      SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d
      FROM bounds),
    types AS (
      SELECT * FROM (VALUES ('view', 1), ('click', 2),
                            ('signup', 3), ('purchase', 4)) AS t(t, j)),
    daily AS (
      SELECT CAST(ts AS DATE) AS d, event_type AS t, count(*) AS c
      FROM events WHERE event_type IN ('view','click','signup','purchase')
      GROUP BY 1, 2),
    grid AS (
      SELECT cal.d, types.t, types.j, coalesce(daily.c, 0) AS c
      FROM cal CROSS JOIN types
      LEFT JOIN daily ON daily.d = cal.d AND daily.t = types.t),
    mr AS (
      SELECT d, j,
             rank() OVER (PARTITION BY d ORDER BY c)
               + (count(*) OVER (PARTITION BY d, c) - 1) / 2.0 AS midrank
      FROM grid),
    rj AS (SELECT j, sum(midrank) AS r_j FROM mr GROUP BY j),
    b_ AS (SELECT count(*) AS b FROM cal),
    l_ AS (SELECT sum(j * r_j) AS l FROM rj)
    SELECT CAST(b_.b AS BIGINT) AS n_blocks, CAST(4 AS BIGINT) AS k,
           round(l_.l + 1e-9, 1) AS l_stat,
           round((l_.l - b_.b * 4 * 25.0 / 4)
                 / sqrt(b_.b * 16.0 * 5 * 15 / 144) + 1e-9, 6) AS z
    FROM b_, l_
    """,
)
def page_l_trend_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L trend test for an a-priori ORDERED alternative across
    k related treatments: blocks are dense calendar days, treatments
    are the funnel stages in hypothesized depth order (view < click <
    signup < purchase), daily volumes are ranked WITHIN each day with
    midranks for ties, and L = sum_j j * R_j. Under H0, E[L] =
    b*k*(k+1)^2/4 and Var[L] = b*k^2*(k+1)*(k^2-1)/144 (constants fold
    at compile time for the literal k=4), giving the normal z.

    Scale shape: one (day, type) aggregate over the fact table; the
    rank window is PARTITIONED by day (4 rows per partition), the
    treatment totals are a 4-row frame. Midranks are exact multiples
    of 0.5, so every sum is exact in double regardless of order."""
    e = Tables(spark, sf_dir).events.filter(
        F.col("event_type").isin("view", "click", "signup", "purchase")
    )
    jmap = F.create_map(
        F.lit("view"), F.lit(1), F.lit("click"), F.lit(2),
        F.lit("signup"), F.lit(3), F.lit("purchase"), F.lit(4),
    )
    daily = (
        e.groupBy(F.col("ts").cast("date").alias("d"), F.col("event_type").alias("t"))
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    bounds = daily.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    cal = bounds.select(F.explode(F.sequence("d0", "d1")).alias("d"))
    types = spark.createDataFrame(
        [("view", 1), ("click", 2), ("signup", 3), ("purchase", 4)], ["t", "j"]
    )
    grid = (
        cal.crossJoin(F.broadcast(types))
        .join(daily, ["d", "t"], "left")
        .select("d", "j", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
    )
    w_rank = Window.partitionBy("d").orderBy("c")
    w_tie = Window.partitionBy("d", "c")
    mr = grid.select(
        "j",
        (
            F.rank().over(w_rank)
            + (F.count(F.lit(1)).over(w_tie) - 1) / 2.0
        ).alias("midrank"),
    )
    rj = mr.groupBy("j").agg(F.sum("midrank").alias("r_j"))
    b_ = cal.agg(F.count(F.lit(1)).alias("b"))
    l_ = rj.agg(F.sum(F.col("j") * F.col("r_j")).alias("l"))
    return (
        b_.crossJoin(F.broadcast(l_))
        .select(
            F.col("b").cast("long").alias("n_blocks"),
            F.lit(4).cast("long").alias("k"),
            F.round(F.col("l") + 1e-9, 1).alias("l_stat"),
            F.round(
                (F.col("l") - F.col("b") * 4 * 25.0 / 4)
                / F.sqrt(F.col("b") * 16.0 * 5 * 15 / 144)
                + 1e-9,
                6,
            ).alias("z"),
        )
    )


@query(
    "nelson_aalen_time_to_purchase",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             min(ts) AS t0,
             max(ts) AS tmax,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS tp
      FROM events GROUP BY user_id),
    dur AS (
      SELECT (epoch_us(coalesce(tp, tmax)) - epoch_us(t0)) // 3600000000
               AS d_h,
             CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS observed
      FROM per_user),
    n_all AS (SELECT count(*) AS n FROM dur),
    by_t AS (
      SELECT d_h, CAST(count(*) AS BIGINT) AS n_total,
             CAST(sum(observed) AS BIGINT) AS n_events
      FROM dur GROUP BY d_h),
    risk AS (
      SELECT d_h, n_total, n_events,
             n_all.n - coalesce(sum(n_total) OVER (ORDER BY d_h
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM by_t, n_all),
    ev AS (SELECT * FROM risk WHERE n_events > 0),
    na AS (
      SELECT d_h, n_risk, n_events,
             sum(CAST(n_events AS DOUBLE) / n_risk)
               OVER (ORDER BY d_h
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS h
      FROM ev)
    SELECT CAST(d_h AS BIGINT) AS duration_h,
           CAST(n_risk AS BIGINT) AS n_risk, n_events,
           round(h + 1e-9, 6) AS cum_hazard
    FROM na ORDER BY duration_h
    """,
)
def nelson_aalen_time_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator for time-to-first-
    purchase — the integral-hazard companion to the registered
    Kaplan-Meier survival curve (same entry/censoring frame: users
    enter at first event, are censored at last event if they never
    purchase, durations in exact integer hours): H(t) = sum_{s<=t}
    d_s / n_s over observed event times.

    Scale shape: identical to Kaplan-Meier — one user-keyed aggregate,
    then everything runs on the hour-domain frame: one groupBy, one
    distributed exclusive cumsum for the at-risk counts
    (``global_cumsum``), and a second for the hazard increments (the
    increments are O(1) doubles, so partition-carry association drifts
    only ULPs against the oracle's sequential window — absorbed by the
    6 dp epsilon-shifted round)."""
    e = Tables(spark, sf_dir).events
    per_user = e.groupBy("user_id").agg(
        F.min("ts").alias("t0"),
        F.max("ts").alias("tmax"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("tp"),
    )
    dur = per_user.select(
        F.timestamp_diff(
            "MICROSECOND", F.col("t0"), F.coalesce("tp", "tmax")
        ).alias("d_us"),
        F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("observed"),
    ).select(F.expr("d_us div 3600000000").alias("d_h"), "observed")
    n_all = dur.agg(F.count(F.lit(1)).alias("n"))
    by_t = dur.groupBy("d_h").agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum("observed").cast("long").alias("n_events"),
    )
    risk = (
        global_cumsum(by_t, ["d_h"], "n_total", out="before")
        .crossJoin(F.broadcast(n_all))
        .select("d_h", "n_events", (F.col("n") - F.col("before")).alias("n_risk"))
    )
    ev = risk.filter(F.col("n_events") > 0).withColumn(
        "h_inc", F.col("n_events").cast("double") / F.col("n_risk")
    )
    na = global_cumsum(ev, ["d_h"], "h_inc", out="h_before")
    return na.select(
        F.col("d_h").cast("long").alias("duration_h"),
        F.col("n_risk").cast("long").alias("n_risk"),
        "n_events",
        F.round(F.col("h_before") + F.col("h_inc") + 1e-9, 6).alias("cum_hazard"),
    ).orderBy("duration_h")


@query(
    "jonckheere_trend_priority",
    oracle="""
    WITH s AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
             CAST(substr(o_orderpriority, 1, 1) AS INT) AS g
      FROM orders),
    c AS (
      SELECT v,
             sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS c1,
             sum(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS c2,
             sum(CASE WHEN g = 3 THEN 1 ELSE 0 END) AS c3,
             sum(CASE WHEN g = 4 THEN 1 ELSE 0 END) AS c4,
             sum(CASE WHEN g = 5 THEN 1 ELSE 0 END) AS c5
      FROM s GROUP BY v),
    w AS (
      SELECT v, c1, c2, c3, c4, c5,
             coalesce(sum(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS b1,
             coalesce(sum(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS b2,
             coalesce(sum(c3) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS b3,
             coalesce(sum(c4) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS b4,
             coalesce(sum(c5) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS b5
      FROM c),
    t AS (
      SELECT sum((CAST(c2 AS DOUBLE) * b1 + 0.5 * c1 * c2) + (CAST(c3 AS DOUBLE) * b1 + 0.5 * c1 * c3) + (CAST(c4 AS DOUBLE) * b1 + 0.5 * c1 * c4) + (CAST(c5 AS DOUBLE) * b1 + 0.5 * c1 * c5) + (CAST(c3 AS DOUBLE) * b2 + 0.5 * c2 * c3) + (CAST(c4 AS DOUBLE) * b2 + 0.5 * c2 * c4) + (CAST(c5 AS DOUBLE) * b2 + 0.5 * c2 * c5) + (CAST(c4 AS DOUBLE) * b3 + 0.5 * c3 * c4) + (CAST(c5 AS DOUBLE) * b3 + 0.5 * c3 * c5) + (CAST(c5 AS DOUBLE) * b4 + 0.5 * c4 * c5)) AS jt,
             sum(c1) AS n1,
             sum(c2) AS n2,
             sum(c3) AS n3,
             sum(c4) AS n4,
             sum(c5) AS n5
      FROM w),
    m AS (
      SELECT jt, n1 + n2 + n3 + n4 + n5 AS n,
             CAST(n1 AS DOUBLE) * n1 + CAST(n2 AS DOUBLE) * n2 + CAST(n3 AS DOUBLE) * n3 + CAST(n4 AS DOUBLE) * n4 + CAST(n5 AS DOUBLE) * n5 AS sn2,
             CAST(n1 AS DOUBLE) * n1 * (2.0 * n1 + 3) + CAST(n2 AS DOUBLE) * n2 * (2.0 * n2 + 3) + CAST(n3 AS DOUBLE) * n3 * (2.0 * n3 + 3) + CAST(n4 AS DOUBLE) * n4 * (2.0 * n4 + 3) + CAST(n5 AS DOUBLE) * n5 * (2.0 * n5 + 3) AS snv
      FROM t),
    f AS (
      SELECT jt, n,
             (CAST(n AS DOUBLE) * n - sn2) / 4.0 AS e_jt,
             (CAST(n AS DOUBLE) * n * (2.0 * n + 3) - snv) / 72.0 AS var_jt
      FROM m)
    SELECT CAST(n AS BIGINT) AS n, round(jt + 1e-9, 2) AS jt,
           round(e_jt + 1e-9, 2) AS e_jt,
           round((jt - e_jt) / sqrt(var_jt) + 1e-9, 6) AS z
    FROM f
    """,
)
def jonckheere_trend_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra test for a MONOTONE trend in o_totalprice
    across the five ordered priority classes (1-URGENT < ... < 5-LOW):
    JT = sum over ordered group pairs i<j of the Mann-Whitney count
    #{x_i < x_j} + ties/2, computed WITHOUT any pairwise row join via
    the value-histogram identity U_ij = sum_v [c_j(v) * cumlt_i(v) +
    c_i(v)*c_j(v)/2] over the cents-quantized value domain. The null
    mean (N^2 - sum n_i^2)/4 and variance [N^2(2N+3) - sum n_i^2
    (2n_i+3)]/72 give the normal z (no-tie variance form; values are
    cents-quantized so residual tie mass is negligible and identical
    on both engines).

    Scale shape: one (value, group) aggregate over the fact table, a
    5-way pivot to one row per distinct value, ONE multi-column
    distributed exclusive cumsum (``global_cumsum`` with 5 parallel
    value columns — one range shuffle total), and a scalar reduction.
    All products run in double (the ADVICE-r9 int64-overflow rule);
    every term is integer-valued and < 2^53 at test scale, so the
    double sums are EXACT regardless of partial-aggregation order."""
    o = Tables(spark, sf_dir).orders.select(
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("v"),
        F.substring("o_orderpriority", 1, 1).cast("int").alias("g"),
    )
    cnt = o.groupBy("v").agg(
        *[
            F.sum(F.when(F.col("g") == g, 1).otherwise(0)).alias(f"c{g}")
            for g in range(1, 6)
        ]
    )
    cum = global_cumsum(
        cnt,
        ["v"],
        [f"c{g}" for g in range(1, 6)],
        out=[f"b{g}" for g in range(1, 6)],
    )
    pairs = [(1, 2), (1, 3), (1, 4), (1, 5), (2, 3), (2, 4), (2, 5), (3, 4), (3, 5), (4, 5)]
    jt_term = None
    for i, j in pairs:
        term = F.col(f"c{j}").cast("double") * F.col(f"b{i}") + 0.5 * F.col(
            f"c{i}"
        ) * F.col(f"c{j}")
        jt_term = term if jt_term is None else jt_term + term
    t = cum.agg(
        F.sum(jt_term).alias("jt"),
        *[F.sum(f"c{g}").alias(f"n{g}") for g in range(1, 6)],
    )
    n = sum((F.col(f"n{g}") for g in range(1, 6)), F.lit(0))
    sn2 = sum(
        (F.col(f"n{g}").cast("double") * F.col(f"n{g}") for g in range(1, 6)),
        F.lit(0.0),
    )
    snv = sum(
        (
            F.col(f"n{g}").cast("double")
            * F.col(f"n{g}")
            * (2.0 * F.col(f"n{g}") + 3)
            for g in range(1, 6)
        ),
        F.lit(0.0),
    )
    m = t.select(
        F.col("jt"),
        n.alias("n"),
        sn2.alias("sn2"),
        snv.alias("snv"),
    )
    f = m.select(
        "jt",
        "n",
        ((F.col("n").cast("double") * F.col("n") - F.col("sn2")) / 4.0).alias("e_jt"),
        (
            (
                F.col("n").cast("double") * F.col("n") * (2.0 * F.col("n") + 3)
                - F.col("snv")
            )
            / 72.0
        ).alias("var_jt"),
    )
    return f.select(
        F.col("n").cast("long").alias("n"),
        F.round(F.col("jt") + 1e-9, 2).alias("jt"),
        F.round(F.col("e_jt") + 1e-9, 2).alias("e_jt"),
        F.round(
            (F.col("jt") - F.col("e_jt")) / F.sqrt(F.col("var_jt")) + 1e-9, 6
        ).alias("z"),
    )


# ---------------------------------------------------------------------------
# Wave 3 — diagnostics & business analytics: Ljung-Box, readability,
# Cook's distance, discounted LTV
# ---------------------------------------------------------------------------


@query(
    "ljung_box_daily_revenue",
    oracle="""
    WITH bounds AS (
      SELECT min(CAST(o_orderdate AS DATE)) AS d0,
             max(CAST(o_orderdate AS DATE)) AS d1
      FROM orders),
    cal AS (
      SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d
      FROM bounds),
    daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
               / 100 AS rev
      FROM orders GROUP BY 1),
    grid AS (
      SELECT cal.d, coalesce(daily.rev, 0) AS x
      FROM cal LEFT JOIN daily USING (d)),
    m AS (
      SELECT avg(x) AS mu, count(*) AS n,
             sum((x - (SELECT avg(x) FROM grid))
                 * (x - (SELECT avg(x) FROM grid))) AS s0
      FROM grid),
    lags AS (SELECT unnest(generate_series(1, 7)) AS lag),
    pairs AS (
      SELECT lags.lag, a.x AS xa, b.x AS xb
      FROM lags
      JOIN grid a ON TRUE
      JOIN grid b ON b.d = a.d + CAST(lags.lag AS INT)),
    rho AS (
      SELECT lag,
             sum((xa - m.mu) * (xb - m.mu)) / m.s0 AS r,
             max(m.n) AS n
      FROM pairs, m GROUP BY lag, m.s0),
    q AS (
      SELECT lag, r, n,
             max(n) OVER () * (max(n) OVER () + 2.0)
               * sum(r * r / (n - lag))
                 OVER (ORDER BY lag
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS q_lb
      FROM rho)
    SELECT CAST(lag AS BIGINT) AS lag, round(r + 1e-9, 6) AS rho,
           round(q_lb + 1e-9, 4) AS q_ljung_box
    FROM q ORDER BY lag
    """,
)
def ljung_box_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test for autocorrelation in the daily
    revenue series, lags 1..7: rho_k from the standard ACF moment form
    (global mean and denominator over the full densified calendar, so
    a gap day is a real zero, not a dropped row), and the cumulative
    Q_k = n(n+2) * sum_{j<=k} rho_j^2/(n-j) reported per lag — the
    residual-whiteness screen a forecasting pipeline runs before
    trusting a model. Revenue is cents-summed (exact int64) before the
    single double division, so the series itself is bit-identical
    across engines.

    Scale shape: one date-keyed aggregate over the fact table, then
    everything is day-domain-sized: a 7-row broadcast lag frame joined
    against the calendar grid, one (lag)-keyed aggregate, and a 7-row
    cumulative — no per-row windows over fact data."""
    o = Tables(spark, sf_dir).orders
    daily = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(
            (
                F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).cast(
                    "double"
                )
                / 100
            ).alias("rev")
        )
        .localCheckpoint(eager=False)
    )
    bounds = daily.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    cal = bounds.select(F.explode(F.sequence("d0", "d1")).alias("d"))
    grid = (
        cal.join(daily, "d", "left")
        .select("d", F.coalesce(F.col("rev"), F.lit(0.0)).alias("x"))
        .localCheckpoint(eager=False)
    )
    mu_ = grid.agg(F.avg("x").alias("mu"))
    m = (
        grid.crossJoin(F.broadcast(mu_))
        .agg(
            F.max("mu").alias("mu"),
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("x") - F.col("mu")) * (F.col("x") - F.col("mu"))).alias(
                "s0"
            ),
        )
    )
    lags = spark.range(1, 8).select(F.col("id").alias("lag"))
    a = grid.select(F.col("d").alias("da"), F.col("x").alias("xa"))
    b = grid.select(F.col("d").alias("db"), F.col("x").alias("xb"))
    pairs = a.crossJoin(F.broadcast(lags)).join(
        b, F.expr("db = date_add(da, CAST(lag AS INT))")
    )
    rho = (
        pairs.crossJoin(F.broadcast(m))
        .groupBy("lag")
        .agg(
            (
                F.sum((F.col("xa") - F.col("mu")) * (F.col("xb") - F.col("mu")))
                / F.max("s0")
            ).alias("r"),
            F.max("n").alias("n"),
        )
        .withColumn("qterm", F.col("r") * F.col("r") / (F.col("n") - F.col("lag")))
    )
    q = global_cumsum(rho, ["lag"], "qterm", out="qb")
    return q.select(
        F.col("lag").cast("long").alias("lag"),
        F.round(F.col("r") + 1e-9, 6).alias("rho"),
        F.round(
            F.col("n") * (F.col("n") + 2.0) * (F.col("qb") + F.col("qterm")) + 1e-9,
            4,
        ).alias("q_ljung_box"),
    ).orderBy("lag")


@query(
    "readability_flesch_by_lang",
    oracle="""
    WITH per_doc AS (
      SELECT lang,
             len(regexp_extract_all(lower(text), '[a-z]+')) AS w,
             greatest(len(regexp_extract_all(lower(text), '[.!?]+')), 1) AS s,
             len(regexp_extract_all(lower(text), '[aeiouy]+')) AS y
      FROM documents),
    scored AS (
      SELECT lang, w, s, y,
             206.835 - 1.015 * (CAST(w AS DOUBLE) / s)
                     - 84.6 * (CAST(y AS DOUBLE) / w) AS flesch
      FROM per_doc WHERE w >= 1)
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs_scored,
           round(avg(CAST(w AS DOUBLE) / s) + 1e-9, 4) AS words_per_sentence,
           round(avg(CAST(y AS DOUBLE) / w) + 1e-9, 4) AS vowel_groups_per_word,
           round(avg(flesch) + 1e-9, 4) AS flesch_score
    FROM scored GROUP BY lang ORDER BY lang
    """,
)
def readability_flesch_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease screen per language: words are ASCII letter
    runs, sentences are terminal-punctuation runs (floored at 1), and
    syllables are approximated by vowel-group runs — the standard
    cheap proxy. Per-doc score = 206.835 - 1.015*(words/sentences) -
    84.6*(vowel_groups/words), averaged per language over docs with at
    least one ASCII word (CJK docs drop out of scoring rather than
    polluting the average with zero-word artifacts). The corpus-quality
    use: a curriculum/filter signal that needs no model and no UDF.

    Scale shape: three JVM-side regexp_extract_all counts per doc
    inside one projection (whole-stage codegen — no Python in the hot
    path), one lang-keyed aggregate. Counts are exact ints on both
    engines (identical RE semantics for these ASCII classes); the
    ratio averages round at 4 dp."""
    d = Tables(spark, sf_dir).documents
    t = F.lower(F.col("text"))
    per_doc = d.select(
        "lang",
        F.size(F.regexp_extract_all(t, F.lit(r"[a-z]+"), F.lit(0))).alias("w"),
        F.greatest(
            F.size(F.regexp_extract_all(t, F.lit(r"[.!?]+"), F.lit(0))), F.lit(1)
        ).alias("s"),
        F.size(F.regexp_extract_all(t, F.lit(r"[aeiouy]+"), F.lit(0))).alias("y"),
    ).filter(F.col("w") >= 1)
    scored = per_doc.withColumn(
        "flesch",
        F.lit(206.835)
        - 1.015 * (F.col("w").cast("double") / F.col("s"))
        - 84.6 * (F.col("y").cast("double") / F.col("w")),
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_scored"),
            F.round(
                F.avg(F.col("w").cast("double") / F.col("s")) + 1e-9, 4
            ).alias("words_per_sentence"),
            F.round(
                F.avg(F.col("y").cast("double") / F.col("w")) + 1e-9, 4
            ).alias("vowel_groups_per_word"),
            F.round(F.avg("flesch") + 1e-9, 4).alias("flesch_score"),
        )
        .orderBy("lang")
    )


@query(
    "cooks_distance_orders",
    oracle="""
    WITH s AS (
      SELECT o_orderkey,
             CAST(datediff('day', DATE '1970-01-01',
                           CAST(o_orderdate AS DATE)) AS DOUBLE) AS x,
             o_totalprice AS y
      FROM orders),
    m AS (
      SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
      FROM s),
    c AS (
      SELECT n, sx, sy,
             sxx - sx * sx / n AS sxx_c,
             sxy - sx * sy / n AS sxy_c,
             syy - sy * sy / n AS syy_c
      FROM m),
    fit AS (
      SELECT n, sx, sy, sxx_c,
             sxy_c / sxx_c AS b,
             (sy - (sxy_c / sxx_c) * sx) / n AS a,
             (syy_c - (sxy_c / sxx_c) * sxy_c) / (n - 2) AS s2
      FROM c),
    d AS (
      SELECT s.o_orderkey,
             s.y - fit.a - fit.b * s.x AS e,
             1.0 / fit.n + (s.x - fit.sx / fit.n) * (s.x - fit.sx / fit.n)
               / fit.sxx_c AS h,
             fit.s2 AS s2
      FROM s, fit),
    ck AS (
      SELECT o_orderkey,
             round(e * e * h / (2 * s2 * (1 - h) * (1 - h)) * 1e6
                   + 1e-9, 4) AS d_cooks_ppm,
             round(e + 1e-9, 2) AS residual,
             round(h * 1e6 + 1e-9, 4) AS leverage_ppm
      FROM d)
    SELECT o_orderkey, d_cooks_ppm, residual, leverage_ppm
    FROM ck ORDER BY d_cooks_ppm DESC, o_orderkey LIMIT 10
    """,
)
def cooks_distance_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cook's distance influence screen on the OLS trend of order value
    over time (y = o_totalprice, x = order date in epoch days): D_i =
    e_i^2 * h_i / (p * s^2 * (1-h_i)^2) with p = 2 and leverage h_i =
    1/n + (x_i - xbar)^2 / Sxx — the top-10 most influential orders, a
    regression-diagnostics staple for "which rows move the fit". SSE
    comes from the closed form Syy_c - b*Sxy_c, so ONE moment pass fits
    the model and a second map-only pass scores rows.

    Scale shape: one 6-sum aggregate, broadcast of the 1-row fit frame,
    a per-row projection, and TakeOrderedAndProject(10) on the ROUNDED
    distance (round-before-rank with o_orderkey tiebreak) — no sort of
    the full table, no window."""
    o = Tables(spark, sf_dir).orders
    s = o.select(
        "o_orderkey",
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("double")
        .alias("x"),
        F.col("o_totalprice").alias("y"),
    )
    m = s.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    c = m.select(
        "n",
        "sx",
        "sy",
        (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")).alias("sxx_c"),
        (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")).alias("sxy_c"),
        (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")).alias("syy_c"),
    )
    fit = c.select(
        "n",
        "sx",
        "sxx_c",
        (F.col("sxy_c") / F.col("sxx_c")).alias("b"),
        ((F.col("sy") - (F.col("sxy_c") / F.col("sxx_c")) * F.col("sx")) / F.col("n")).alias(
            "a"
        ),
        (
            (F.col("syy_c") - (F.col("sxy_c") / F.col("sxx_c")) * F.col("sxy_c"))
            / (F.col("n") - 2)
        ).alias("s2"),
    )
    d = s.crossJoin(F.broadcast(fit)).select(
        "o_orderkey",
        (F.col("y") - F.col("a") - F.col("b") * F.col("x")).alias("e"),
        (
            1.0 / F.col("n")
            + (F.col("x") - F.col("sx") / F.col("n"))
            * (F.col("x") - F.col("sx") / F.col("n"))
            / F.col("sxx_c")
        ).alias("h"),
        "s2",
    )
    ck = d.select(
        "o_orderkey",
        F.round(
            F.col("e")
            * F.col("e")
            * F.col("h")
            / (2 * F.col("s2") * (1 - F.col("h")) * (1 - F.col("h")))
            * 1e6
            + 1e-9,
            4,
        ).alias("d_cooks_ppm"),
        F.round(F.col("e") + 1e-9, 2).alias("residual"),
        F.round(F.col("h") * 1e6 + 1e-9, 4).alias("leverage_ppm"),
    )
    return ck.orderBy(F.desc("d_cooks_ppm"), F.asc("o_orderkey")).limit(10)


@query(
    "ltv_discounted_by_segment",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_totalprice,
             datediff('day',
                      min(CAST(o_orderdate AS DATE))
                        OVER (PARTITION BY o_custkey),
                      CAST(o_orderdate AS DATE)) // 30 AS months
      FROM orders),
    ltv AS (
      SELECT o_custkey,
             count(*) AS n_orders,
             sum(o_totalprice * pow(0.98, months)) AS v
      FROM o GROUP BY o_custkey),
    seg AS (
      SELECT c.c_mktsegment, ltv.n_orders, ltv.v
      FROM ltv JOIN customer c ON c.c_custkey = ltv.o_custkey)
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(n_orders) AS BIGINT) AS n_orders,
           round(avg(v) + 1e-9, 2) AS avg_ltv,
           round(max(v) + 1e-9, 2) AS max_ltv
    FROM seg GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def ltv_discounted_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discounted customer lifetime value by market segment: each
    order contributes o_totalprice * 0.98^months-since-first-order
    (months = exact integer floor of day-diff / 30 — no float date
    math), summed per customer and aggregated per segment. The
    monthly discount factor is the standard LTV normalization that
    makes early revenue worth more than late revenue.

    Scale shape: one customer-partitioned window (min first-order
    date — each partition is one customer's orders), one customer
    aggregate, one equi-join to the customer dim on the grouping key,
    one segment rollup. pow(0.98, int) may differ by an ULP between
    libms; sums are rounded at 2 dp, ~7 orders of magnitude of
    headroom."""
    o = Tables(spark, sf_dir).orders
    w = Window.partitionBy("o_custkey")
    od = o.select(
        "o_custkey",
        "o_totalprice",
        F.expr(
            "datediff(CAST(o_orderdate AS DATE), "
            "min(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey)) div 30"
        ).alias("months"),
    )
    ltv = od.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice") * F.pow(F.lit(0.98), F.col("months"))).alias(
            "v"
        ),
    )
    c = Tables(spark, sf_dir).customer.select("c_custkey", "c_mktsegment")
    seg = ltv.join(c, ltv["o_custkey"] == c["c_custkey"])
    return (
        seg.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.round(F.avg("v") + 1e-9, 2).alias("avg_ltv"),
            F.round(F.max("v") + 1e-9, 2).alias("max_ltv"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# Fourth wave (staged late r10): regression / decision-stump / rank tests /
# survival / forecasting / corpus hygiene / graph link analysis / isotropy
# ---------------------------------------------------------------------------


@query(
    "ols_two_factor_pricing",
    oracle="""
    WITH m AS (
      SELECT count(*) AS n,
             avg(l_quantity) AS m1, avg(l_discount) AS m2,
             avg(l_extendedprice) AS my,
             var_pop(l_quantity) AS s11, var_pop(l_discount) AS s22,
             covar_pop(l_quantity, l_discount) AS s12,
             covar_pop(l_quantity, l_extendedprice) AS s1y,
             covar_pop(l_discount, l_extendedprice) AS s2y,
             var_pop(l_extendedprice) AS syy
      FROM lineitem),
    b AS (
      SELECT n, m1, m2, my, s1y, s2y, syy,
             (s1y * s22 - s2y * s12) / (s11 * s22 - s12 * s12) AS b1,
             (s2y * s11 - s1y * s12) / (s11 * s22 - s12 * s12) AS b2
      FROM m)
    SELECT CAST(n AS BIGINT) AS n,
           round(b1 + 1e-9, 4) AS beta_quantity,
           round(b2 + 1e-9, 4) AS beta_discount,
           round(my - b1 * m1 - b2 * m2 + 1e-9, 4) AS intercept,
           round((b1 * s1y + b2 * s2y) / syy + 1e-9, 6) AS r2
    FROM b
    """,
)
def ols_two_factor_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-regressor OLS in closed form: l_extendedprice ~ l_quantity +
    l_discount via the centered 2x2 normal equations (Cramer's rule on
    the moment matrix), plus R^2 = explained/total variance. The
    multiple-regression sibling of the staged-r10 log-log elasticity
    OLS — no iterative solver, no feature matrix materialization: five
    covariances and three means fully determine the fit.

    Scale shape: ONE streaming-moment aggregate over the fact table
    (covar_pop/var_pop are single-pass, map-side combinable); everything
    after runs on a 1-row frame. Coefficients rounded at 4 dp
    (epsilon-shifted) — cross-engine moment summation agrees far below
    that at any SF because the estimators are ratios of O(n)-term sums."""
    li = Tables(spark, sf_dir).lineitem
    m = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("l_quantity").alias("m1"),
        F.avg("l_discount").alias("m2"),
        F.avg("l_extendedprice").alias("my"),
        F.var_pop("l_quantity").alias("s11"),
        F.var_pop("l_discount").alias("s22"),
        F.covar_pop("l_quantity", "l_discount").alias("s12"),
        F.covar_pop("l_quantity", "l_extendedprice").alias("s1y"),
        F.covar_pop("l_discount", "l_extendedprice").alias("s2y"),
        F.var_pop("l_extendedprice").alias("syy"),
    )
    det = F.col("s11") * F.col("s22") - F.col("s12") * F.col("s12")
    b1 = (F.col("s1y") * F.col("s22") - F.col("s2y") * F.col("s12")) / det
    b2 = (F.col("s2y") * F.col("s11") - F.col("s1y") * F.col("s12")) / det
    return m.select(
        F.col("n").cast("long").alias("n"),
        F.round(b1 + 1e-9, 4).alias("beta_quantity"),
        F.round(b2 + 1e-9, 4).alias("beta_discount"),
        F.round(
            F.col("my") - b1 * F.col("m1") - b2 * F.col("m2") + 1e-9, 4
        ).alias("intercept"),
        F.round(
            (b1 * F.col("s1y") + b2 * F.col("s2y")) / F.col("syy") + 1e-9, 6
        ).alias("r2"),
    )




@query(
    "wilcoxon_signed_rank_weekly",
    oracle="""
    WITH daily AS (
      SELECT date_diff('day', TIMESTAMP '1992-01-01', l_shipdate) AS d,
             round(sum(l_extendedprice) + 1e-9, 2) AS y
      FROM lineitem GROUP BY d),
    pr AS (
      SELECT b.y - a.y AS diff
      FROM daily a JOIN daily b ON b.d = a.d + 7
      WHERE b.y <> a.y),
    g AS (SELECT abs(diff) AS ad, count(*) AS c,
                 sum(CASE WHEN diff > 0 THEN 1 ELSE 0 END) AS cpos
          FROM pr GROUP BY ad),
    r AS (
      SELECT ad, c, cpos,
             coalesce(sum(c) OVER (ORDER BY ad
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
      FROM g),
    agg AS (
      SELECT CAST(sum(c) AS DOUBLE) AS n,
             sum(cpos * (before + (c + 1) / 2.0)) AS wplus,
             sum(CAST(c AS DOUBLE) * c * c - c) AS tie_cubes
      FROM r)
    SELECT CAST(n AS BIGINT) AS n_pairs,
           round(wplus + 1e-9, 4) AS w_plus,
           round((wplus - n * (n + 1.0) / 4.0)
                 / sqrt(n * (n + 1.0) * (2.0 * n + 1.0) / 24.0
                        - tie_cubes / 48.0) + 1e-9, 4) AS z
    FROM agg
    """,
)
def wilcoxon_signed_rank_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired Wilcoxon signed-rank test of week-over-week daily revenue:
    pair day d with day d+7, rank |y(d+7) - y(d)| with midranks, and
    test whether positive shifts dominate (W+ against its null
    mean/variance with the standard tie correction, zero differences
    dropped per Wilcoxon). The nonparametric twin of a paired t-test —
    robust to the revenue spikes that wreck the parametric version.

    Scale shape: days are a bounded domain (the fact table aggregates
    to ~2.5k rows), the lag-7 pairing is an equi-join on d+7, midranks
    come from ONE distributed exclusive cumsum over the
    distinct-|diff| frame (the Mann-Whitney closed form), and the
    daily series is quantized at 2 dp so every |diff| is the same IEEE
    double on both engines."""
    li = Tables(spark, sf_dir).lineitem
    daily = li.groupBy(
        F.datediff(
            F.col("l_shipdate").cast("date"), F.lit("1992-01-01").cast("date")
        ).alias("d")
    ).agg(F.round(F.sum("l_extendedprice") + 1e-9, 2).alias("y"))
    daily = daily.localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
    a = daily.select(F.col("d").alias("d1"), F.col("y").alias("y1"))
    b = daily.select((F.col("d") - 7).alias("d1"), F.col("y").alias("y2"))
    pr = a.join(b, "d1").select((F.col("y2") - F.col("y1")).alias("diff"))
    pr = pr.filter(F.col("diff") != 0)
    g = pr.groupBy(F.abs(F.col("diff")).alias("ad")).agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(F.when(F.col("diff") > 0, 1).otherwise(0)).alias("cpos"),
    )
    r = global_cumsum(g, ["ad"], "c", out="before")
    agg = r.agg(
        F.sum("c").cast("double").alias("n"),
        F.sum(
            F.col("cpos") * (F.col("before") + (F.col("c") + 1) / 2.0)
        ).alias("wplus"),
        F.sum(
            F.col("c").cast("double") * F.col("c") * F.col("c") - F.col("c")
        ).alias("tie_cubes"),
    )
    n = F.col("n")
    return agg.select(
        n.cast("long").alias("n_pairs"),
        F.round(F.col("wplus") + 1e-9, 4).alias("w_plus"),
        F.round(
            (F.col("wplus") - n * (n + 1.0) / 4.0)
            / F.sqrt(
                n * (n + 1.0) * (2.0 * n + 1.0) / 24.0
                - F.col("tie_cubes") / 48.0
            )
            + 1e-9,
            4,
        ).alias("z"),
    )


@query(
    "cvm_two_sample_value",
    oracle="""
    WITH s AS (
      SELECT value AS v,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ia
      FROM events WHERE event_type IN ('click', 'purchase')),
    g AS (SELECT v, sum(ia) AS ca, count(*) - sum(ia) AS cb
          FROM s GROUP BY v),
    r AS (
      SELECT v, ca, cb,
             sum(ca) OVER (ORDER BY v) AS cuma,
             sum(cb) OVER (ORDER BY v) AS cumb
      FROM g),
    tot AS (SELECT CAST(sum(ca) AS DOUBLE) AS na,
                   CAST(sum(cb) AS DOUBLE) AS nb FROM g),
    agg AS (
      SELECT sum((r.ca + r.cb)
                 * (r.cuma / tot.na - r.cumb / tot.nb)
                 * (r.cuma / tot.na - r.cumb / tot.nb)) AS s2,
             max(tot.na) AS na, max(tot.nb) AS nb
      FROM r, tot)
    SELECT CAST(na AS BIGINT) AS n_a,
           CAST(nb AS BIGINT) AS n_b,
           round(na * nb / ((na + nb) * (na + nb)) * s2 + 1e-9, 6) AS t_cvm
    FROM agg
    """,
)
def cvm_two_sample_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér-von Mises two-sample criterion between the click and
    purchase `value` distributions, in the integral form T =
    (n·m/N²) · Σ_k c_k · (F_n(x_k) − G_m(x_k))² (sum over pooled
    observations, inclusive ECDFs — the standard definition, which
    extends to ties naturally). Quadratic-in-ECDF-gap where
    Kolmogorov-Smirnov is max-gap: CvM sees distributed small
    departures KS misses, so the pair brackets distribution drift.

    Scale shape: identical to the registered KS query — one
    groupBy(value), one distributed inclusive cumsum of both group
    counts (``global_cumsum``), one scalar aggregate; count products in
    double (ADVICE-r9 overflow rule)."""
    e = Tables(spark, sf_dir).events.filter(
        F.col("event_type").isin("click", "purchase")
    )
    g = e.groupBy(F.col("value").alias("v")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
            "ca"
        ),
        F.sum(F.when(F.col("event_type") == "click", 0).otherwise(1)).alias(
            "cb"
        ),
    )
    g = g.localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
    r = global_cumsum(g, ["v"], ["ca", "cb"], out=["ba", "bb"])
    tot = g.agg(
        F.sum("ca").cast("double").alias("na"),
        F.sum("cb").cast("double").alias("nb"),
    )
    j = r.crossJoin(F.broadcast(tot))
    gap = (F.col("ba") + F.col("ca")) / F.col("na") - (
        F.col("bb") + F.col("cb")
    ) / F.col("nb")
    agg = j.agg(
        F.sum((F.col("ca") + F.col("cb")) * gap * gap).alias("s2"),
        F.max("na").alias("na"),
        F.max("nb").alias("nb"),
    )
    na, nb = F.col("na"), F.col("nb")
    return agg.select(
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        F.round(na * nb / ((na + nb) * (na + nb)) * F.col("s2") + 1e-9, 6).alias(
            "t_cvm"
        ),
    )


@query(
    "logrank_time_to_purchase",
    oracle="""
    WITH u AS (
      SELECT user_id % 2 AS grp,
             epoch_us(coalesce(min(CASE WHEN event_type = 'purchase'
                                        THEN ts END), max(ts)))
               - epoch_us(min(ts)) AS dur,
             CASE WHEN min(CASE WHEN event_type = 'purchase' THEN ts END)
                  IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM events GROUP BY user_id),
    g AS (
      SELECT dur,
             sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS c0,
             sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS c1,
             sum(CASE WHEN grp = 0 AND ev = 1 THEN 1 ELSE 0 END) AS d0,
             sum(CASE WHEN grp = 1 AND ev = 1 THEN 1 ELSE 0 END) AS d1
      FROM u GROUP BY dur),
    tot AS (SELECT CAST(sum(c0) AS DOUBLE) AS t0,
                   CAST(sum(c1) AS DOUBLE) AS t1,
                   CAST(sum(c0 + c1) AS BIGINT) AS n_users,
                   CAST(sum(d0 + d1) AS BIGINT) AS n_events FROM g),
    r AS (
      SELECT dur, d0, d1,
             tot.t0 - coalesce(sum(c0) OVER (ORDER BY dur
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n0,
             tot.t1 - coalesce(sum(c1) OVER (ORDER BY dur
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n1
      FROM g, tot),
    st AS (
      SELECT sum(d1) AS o1,
             sum((d0 + d1) * n1 / (n0 + n1)) AS e1,
             sum(CASE WHEN n0 + n1 > 1 THEN
                   (d0 + d1) * (n1 / (n0 + n1)) * (1.0 - n1 / (n0 + n1))
                   * (n0 + n1 - d0 - d1) / (n0 + n1 - 1)
                 ELSE 0 END) AS v
      FROM r WHERE d0 + d1 > 0)
    SELECT tot.n_users, tot.n_events,
           CAST(st.o1 AS BIGINT) AS o1,
           round(st.e1 + 1e-9, 4) AS e1,
           round((st.o1 - st.e1) * (st.o1 - st.e1) / st.v + 1e-9, 4)
             AS chi2
    FROM st, tot
    """,
)
def logrank_time_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-group log-rank test on time-to-first-purchase (cohorts =
    user_id parity; users who never purchase are right-censored at
    their last observed event) — the inferential companion to the
    registered Kaplan-Meier and staged Nelson-Aalen curves: at every
    distinct event time, compare observed group-1 events against the
    hypergeometric expectation given the at-risk sets, and fold the
    increments into the (O-E)^2/V chi-square.

    Scale shape: one user-keyed aggregate builds (duration, group,
    event); one groupBy(duration) collapses to the distinct-time frame;
    at-risk counts are total-minus-exclusive-cumsum (ONE distributed
    ``global_cumsum`` over both group counts); durations are exact
    integer microseconds so the frame keys are engine-portable."""
    e = Tables(spark, sf_dir).events
    u = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "pts"
        ),
        F.min("ts").alias("entry"),
        F.max("ts").alias("last"),
    )
    u = u.select(
        (F.col("user_id") % 2).alias("grp"),
        (
            epoch_us(F.coalesce(F.col("pts"), F.col("last")))
            - epoch_us(F.col("entry"))
        ).alias("dur"),
        F.when(F.col("pts").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    g = u.groupBy("dur").agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("c1"),
        F.sum(
            F.when((F.col("grp") == 0) & (F.col("ev") == 1), 1).otherwise(0)
        ).alias("d0"),
        F.sum(
            F.when((F.col("grp") == 1) & (F.col("ev") == 1), 1).otherwise(0)
        ).alias("d1"),
    )
    g = g.localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
    tot = g.agg(
        F.sum("c0").cast("double").alias("t0"),
        F.sum("c1").cast("double").alias("t1"),
        F.sum(F.col("c0") + F.col("c1")).cast("long").alias("n_users"),
        F.sum(F.col("d0") + F.col("d1")).cast("long").alias("n_events"),
    )
    r = global_cumsum(g, ["dur"], ["c0", "c1"], out=["b0", "b1"]).crossJoin(
        F.broadcast(tot)
    )
    n0 = F.col("t0") - F.col("b0")
    n1 = F.col("t1") - F.col("b1")
    nj = n0 + n1
    dj = F.col("d0") + F.col("d1")
    st = r.filter(dj > 0).agg(
        F.sum("d1").alias("o1"),
        F.sum(dj * n1 / nj).alias("e1"),
        F.sum(
            F.when(
                nj > 1,
                dj * (n1 / nj) * (1.0 - n1 / nj) * (nj - dj) / (nj - 1),
            ).otherwise(0.0)
        ).alias("v"),
        F.max("n_users").alias("n_users"),
        F.max("n_events").alias("n_events"),
    )
    o1, e1 = F.col("o1"), F.col("e1")
    return st.select(
        F.col("n_users"),
        F.col("n_events"),
        o1.cast("long").alias("o1"),
        F.round(e1 + 1e-9, 4).alias("e1"),
        F.round((o1 - e1) * (o1 - e1) / F.col("v") + 1e-9, 4).alias("chi2"),
    )


@query(
    "ar1_forecast_backtest_daily",
    oracle="""
    WITH daily AS (
      SELECT date_diff('day', TIMESTAMP '1992-01-01', l_shipdate) AS d,
             round(sum(l_extendedprice) + 1e-9, 2) AS y
      FROM lineitem GROUP BY d),
    st2 AS (
      SELECT avg(y) AS ybar,
             var_pop(y) * count(*) AS den,
             count(*) AS nd
      FROM daily),
    pr AS (
      SELECT b.y AS y, a.y AS yprev FROM daily a JOIN daily b ON b.d = a.d + 1),
    num AS (
      SELECT sum((pr.y - st2.ybar) * (pr.yprev - st2.ybar)) AS num,
             count(*) AS np
      FROM pr, st2),
    ph AS (SELECT num.num / st2.den AS phi, num.np, st2.ybar, st2.nd
           FROM num, st2),
    bt AS (
      SELECT avg(abs(pr.y - (ph.ybar + ph.phi * (pr.yprev - ph.ybar))))
               AS mae,
             sqrt(avg((pr.y - (ph.ybar + ph.phi * (pr.yprev - ph.ybar))) ^ 2))
               AS rmse
      FROM pr, ph)
    SELECT CAST(ph.nd AS BIGINT) AS n_days,
           CAST(ph.np AS BIGINT) AS n_pairs,
           round(ph.phi + 1e-9, 4) AS phi,
           round(bt.mae + 1e-9, 2) AS mae,
           round(bt.rmse + 1e-9, 2) AS rmse
    FROM ph, bt
    """,
)
def ar1_forecast_backtest_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(1) fit on daily revenue by Yule-Walker (phi = lag-1
    autocovariance over variance, both centered on the full-series
    mean) plus an in-sample one-step-ahead backtest: forecast
    y_hat(d) = ybar + phi * (y(d-1) - ybar) wherever the previous day
    exists, and report MAE/RMSE — the fit AND the honesty check in one
    query, the way a forecasting pipeline actually evaluates a model.

    Scale shape: days are a bounded domain; the lag pairing is an
    equi-join on d+1 (no single-task window); the series is quantized
    at 2 dp before any cross-engine arithmetic; two scalar aggregates
    (moments, then backtest with the broadcast phi)."""
    li = Tables(spark, sf_dir).lineitem
    daily = li.groupBy(
        F.datediff(
            F.col("l_shipdate").cast("date"), F.lit("1992-01-01").cast("date")
        ).alias("d")
    ).agg(F.round(F.sum("l_extendedprice") + 1e-9, 2).alias("y"))
    daily = daily.localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
    st = daily.agg(
        F.avg("y").alias("ybar"),
        (F.var_pop("y") * F.count(F.lit(1))).alias("den"),
        F.count(F.lit(1)).alias("nd"),
    )
    a = daily.select(F.col("d").alias("dp"), F.col("y").alias("yprev"))
    b = daily.select((F.col("d") - 1).alias("dp"), F.col("y").alias("y"))
    pr = a.join(b, "dp").localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
    num = pr.crossJoin(F.broadcast(st)).agg(
        F.sum(
            (F.col("y") - F.col("ybar")) * (F.col("yprev") - F.col("ybar"))
        ).alias("num"),
        F.count(F.lit(1)).alias("np"),
        F.max("ybar").alias("ybar"),
        F.max("den").alias("den"),
        F.max("nd").alias("nd"),
    )
    ph = num.select(
        (F.col("num") / F.col("den")).alias("phi"), "np", "ybar", "nd"
    )
    resid = F.col("y") - (
        F.col("ybar") + F.col("phi") * (F.col("yprev") - F.col("ybar"))
    )
    bt = pr.crossJoin(F.broadcast(ph)).agg(
        F.avg(F.abs(resid)).alias("mae"),
        F.sqrt(F.avg(resid * resid)).alias("rmse"),
        F.max("phi").alias("phi"),
        F.max("np").alias("np"),
        F.max("nd").alias("nd"),
    )
    return bt.select(
        F.col("nd").cast("long").alias("n_days"),
        F.col("np").cast("long").alias("n_pairs"),
        F.round(F.col("phi") + 1e-9, 4).alias("phi"),
        F.round(F.col("mae") + 1e-9, 2).alias("mae"),
        F.round(F.col("rmse") + 1e-9, 2).alias("rmse"),
    )


@query(
    "mood_median_test_priority",
    oracle="""
    WITH g AS (SELECT o_totalprice AS v, count(*) AS c FROM orders GROUP BY v),
    r AS (
      SELECT v, c,
             coalesce(sum(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
      FROM g),
    tot AS (SELECT sum(c) AS n FROM g),
    med AS (
      SELECT r.v AS m FROM r, tot
      WHERE r.before <= CAST(floor((tot.n - 1) / 2) AS BIGINT)
        AND CAST(floor((tot.n - 1) / 2) AS BIGINT) < r.before + r.c),
    cells AS (
      SELECT o.o_orderpriority AS grp,
             CAST(count(*) AS DOUBLE) AS ng,
             CAST(sum(CASE WHEN o.o_totalprice > med.m THEN 1 ELSE 0 END)
                  AS DOUBLE) AS ngt
      FROM orders o, med GROUP BY grp),
    mar AS (
      SELECT sum(ng) AS n, sum(ngt) AS cgt, count(*) AS k FROM cells),
    chi AS (
      SELECT sum((c.ngt - c.ng * m.cgt / m.n)
                 * (c.ngt - c.ng * m.cgt / m.n) / (c.ng * m.cgt / m.n)
                 + ((c.ng - c.ngt) - c.ng * (m.n - m.cgt) / m.n)
                 * ((c.ng - c.ngt) - c.ng * (m.n - m.cgt) / m.n)
                 / (c.ng * (m.n - m.cgt) / m.n)) AS chi2,
             max(m.k) AS k, max(m.n) AS n
      FROM cells c, mar m)
    SELECT CAST(chi.n AS BIGINT) AS n,
           CAST(chi.k AS BIGINT) AS k,
           CAST(chi.k - 1 AS BIGINT) AS dof,
           med.m AS median_value,
           round(chi.chi2 + 1e-9, 4) AS chi2
    FROM chi, med
    """,
)
def mood_median_test_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test: do the k order-priority classes share a
    common median o_totalprice? Counts above/at-or-below the POOLED
    lower median per class, then the k x 2 contingency chi-square —
    the coarse-but-assumption-free sibling of Kruskal-Wallis (it only
    uses position relative to one quantile, so it survives arbitrary
    monotone transforms and censoring at the tails).

    Scale shape: the pooled median comes from the distinct-value frame
    via ONE distributed exclusive cumsum (lower-median rank rule — no
    interpolated percentile crosses the engine boundary); the
    contingency table is one broadcast-median pass over the fact
    table; the chi-square runs on a k-row frame."""
    o = Tables(spark, sf_dir).orders
    # o_totalprice is ~unique, so this distinct-value frame is
    # DATA-sized (not domain-bounded): checkpoint it for its two
    # consumers and size the cumsum like the SPRT stream walk
    # (n_parts=64 — exact integer counts, partition-carry association
    # cannot change any bit)
    g = (
        o.groupBy(F.col("o_totalprice").alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
    )
    r = global_cumsum(g, ["v"], "c", out="before", n_parts=64)
    tot = g.agg(F.sum("c").alias("n"))
    med = (
        r.crossJoin(F.broadcast(tot))
        .filter(
            (F.col("before") <= F.floor((F.col("n") - 1) / 2))
            & (F.floor((F.col("n") - 1) / 2) < F.col("before") + F.col("c"))
        )
        .select(F.col("v").alias("m"))
    )
    cells = o.crossJoin(F.broadcast(med)).groupBy(
        F.col("o_orderpriority").alias("grp")
    ).agg(
        F.count(F.lit(1)).cast("double").alias("ng"),
        F.sum(F.when(F.col("o_totalprice") > F.col("m"), 1).otherwise(0))
        .cast("double")
        .alias("ngt"),
    )
    mar = cells.agg(
        F.sum("ng").alias("n"),
        F.sum("ngt").alias("cgt"),
        F.count(F.lit(1)).alias("k"),
    )
    j = cells.crossJoin(F.broadcast(mar))
    egt = F.col("ng") * F.col("cgt") / F.col("n")
    ele = F.col("ng") * (F.col("n") - F.col("cgt")) / F.col("n")
    chi = j.agg(
        F.sum(
            (F.col("ngt") - egt) * (F.col("ngt") - egt) / egt
            + ((F.col("ng") - F.col("ngt")) - ele)
            * ((F.col("ng") - F.col("ngt")) - ele)
            / ele
        ).alias("chi2"),
        F.max("k").alias("k"),
        F.max("n").alias("n"),
    )
    return chi.crossJoin(F.broadcast(med)).select(
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("long").alias("k"),
        (F.col("k") - 1).cast("long").alias("dof"),
        F.col("m").alias("median_value"),
        F.round(F.col("chi2") + 1e-9, 4).alias("chi2"),
    )


@query(
    "charclass_profile_by_lang",
    oracle="""
    WITH d AS (
      SELECT lang,
             length(text) AS len,
             length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))
               AS al,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
               AS dg,
             length(text) - length(regexp_replace(text, '[ \\t\\n\\r]', '',
                                                  'g')) AS ws,
             length(text) - length(regexp_replace(text, '[^\\x00-\\x7f]', '',
                                                  'g')) AS na
      FROM documents)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len) AS BIGINT) AS n_chars,
           round(sum(al) / CAST(sum(len) AS DOUBLE) + 1e-9, 6) AS alpha_frac,
           round(sum(dg) / CAST(sum(len) AS DOUBLE) + 1e-9, 6) AS digit_frac,
           round(sum(ws) / CAST(sum(len) AS DOUBLE) + 1e-9, 6) AS space_frac,
           round(sum(na) / CAST(sum(len) AS DOUBLE) + 1e-9, 6)
             AS nonascii_frac
    FROM d GROUP BY lang ORDER BY lang
    """,
)
def charclass_profile_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class hygiene profile per language: alphabetic, digit,
    whitespace, and non-ASCII fractions of the corpus text — the
    cheap first-pass screen a data-quality pipeline runs to catch
    encoding damage (mojibake inflates non-ASCII), OCR noise (digit
    and punctuation spikes), and template boilerplate (whitespace
    ratio drift) before any tokenizer sees the bytes.

    Scale shape: per-document counts are pure JVM codegen
    (length-after-regexp_replace deltas over explicit ASCII classes —
    identical RE2/Java semantics, no UDF), then one lang-keyed
    aggregate; nothing document-sized shuffles except the narrow count
    tuples."""
    d = Tables(spark, sf_dir).documents
    text = F.col("text")
    cnt = lambda pat: F.length(text) - F.length(  # noqa: E731
        F.regexp_replace(text, pat, "")
    )
    per = d.select(
        "lang",
        F.length(text).alias("len"),
        cnt("[A-Za-z]").alias("al"),
        cnt("[0-9]").alias("dg"),
        cnt("[ \\t\\n\\r]").alias("ws"),
        cnt("[^\\x00-\\x7f]").alias("na"),
    )
    agg = per.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("len").cast("long").alias("n_chars"),
        F.sum("al").alias("sal"),
        F.sum("dg").alias("sdg"),
        F.sum("ws").alias("sws"),
        F.sum("na").alias("sna"),
    )
    tol = F.col("n_chars").cast("double")
    return agg.select(
        "lang",
        "n_docs",
        "n_chars",
        F.round(F.col("sal") / tol + 1e-9, 6).alias("alpha_frac"),
        F.round(F.col("sdg") / tol + 1e-9, 6).alias("digit_frac"),
        F.round(F.col("sws") / tol + 1e-9, 6).alias("space_frac"),
        F.round(F.col("sna") / tol + 1e-9, 6).alias("nonascii_frac"),
    ).orderBy("lang")



@query(
    "link_prediction_trade_graph",
    oracle=f"""
    WITH {_TRADE_EDGE_CTES},
    wed AS (
      SELECT n1.u AS u, n2.u AS v, count(*) AS n_common,
             sum(1.0 / ln(dz.d)) AS aa
      FROM und n1 JOIN und n2 ON n1.v = n2.v AND n1.u < n2.u
      JOIN deg dz ON dz.n = n1.v
      GROUP BY n1.u, n2.u),
    sc AS (
      SELECT wed.u, wed.v, wed.n_common,
             wed.n_common / CAST(du.d + dv.d - wed.n_common AS DOUBLE)
               AS jac,
             wed.aa,
             CASE WHEN e0.a IS NULL THEN 0 ELSE 1 END AS is_edge
      FROM wed JOIN deg du ON du.n = wed.u JOIN deg dv ON dv.n = wed.v
      LEFT JOIN e0 ON e0.a = wed.u AND e0.b = wed.v)
    SELECT CAST(u AS BIGINT) AS u, CAST(v AS BIGINT) AS v,
           CAST(n_common AS BIGINT) AS n_common,
           round(jac + 1e-9, 6) AS jaccard,
           round(aa + 1e-9, 6) AS adamic_adar,
           CAST(is_edge AS BIGINT) AS is_edge
    FROM sc
    ORDER BY round(aa + 1e-9, 6) DESC, u, v
    LIMIT 10
    """,
)
def link_prediction_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-prediction scores on the SPARSIFIED undirected nation trade
    graph (top-90 pairs by volume — degree-diverse, unlike the complete
    raw graph where every score was the constant n_common = 23):
    for every node pair sharing at least one common neighbor, the
    three classical predictors — common-neighbor count, neighborhood
    Jaccard, and Adamic-Adar (Σ 1/ln(deg z), which down-weights
    promiscuous intermediaries) — plus an is_edge flag so existing
    edges calibrate the score scale. Top-10 by rounded Adamic-Adar
    with a (u, v) tiebreak (round-before-rank).

    Scale shape: wedge enumeration is ONE self-equi-join of the
    directed edge list on the center node (never an all-pairs
    product — output is bounded by Σ_z deg(z)², the open-wedge
    count), degrees are a broadcast node-keyed aggregate, and AA needs
    no per-pair set materialization because the wedge join already
    delivers one row per (pair, witness). Wedge centers always have
    deg ≥ 2, so ln(deg) never vanishes."""
    e0, und, deg = _trade_edges(Tables(spark, sf_dir))
    n1 = und.select(F.col("u").alias("u"), F.col("v").alias("z"))
    n2 = und.select(F.col("u").alias("v2"), F.col("v").alias("z"))
    dz = deg.select(F.col("n").alias("z"), F.col("d").alias("dz"))
    wed = (
        n1.join(n2, "z")
        .filter(F.col("u") < F.col("v2"))
        .join(F.broadcast(dz), "z")
        .groupBy(F.col("u"), F.col("v2").alias("v"))
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum(1.0 / F.log(F.col("dz").cast("double"))).alias("aa"),
        )
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    flag = e0.select(
        F.col("a").alias("u"), F.col("b").alias("v"), F.lit(1).alias("is_e")
    )
    sc = (
        wed.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .join(F.broadcast(flag), ["u", "v"], "left")
        .select(
            F.col("u").cast("long").alias("u"),
            F.col("v").cast("long").alias("v"),
            F.col("n_common").cast("long").alias("n_common"),
            F.round(
                F.col("n_common")
                / (F.col("du") + F.col("dv") - F.col("n_common")).cast(
                    "double"
                )
                + 1e-9,
                6,
            ).alias("jaccard"),
            F.round(F.col("aa") + 1e-9, 6).alias("adamic_adar"),
            F.coalesce(F.col("is_e"), F.lit(0)).cast("long").alias("is_edge"),
        )
    )
    return sc.orderBy(F.desc("adamic_adar"), "u", "v").limit(10)


@query(
    "rich_club_trade_graph",
    oracle=f"""
    WITH {_TRADE_EDGE_CTES},
    hist AS (SELECT d, count(*) AS nd FROM deg GROUP BY d),
    ks AS (SELECT DISTINCT d AS k FROM deg),
    em AS (
      SELECT least(da.d, db.d) AS m, count(*) AS ne
      FROM e0 JOIN deg da ON da.n = e0.a JOIN deg db ON db.n = e0.b
      GROUP BY m),
    rc AS (
      SELECT ks.k,
             (SELECT coalesce(sum(hist.nd), 0) FROM hist WHERE hist.d > ks.k)
               AS n_nodes,
             (SELECT coalesce(sum(em.ne), 0) FROM em WHERE em.m > ks.k)
               AS n_edges
      FROM ks)
    SELECT CAST(k AS BIGINT) AS k,
           CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(n_edges AS BIGINT) AS n_edges,
           round(2.0 * n_edges / (CAST(n_nodes AS DOUBLE) * (n_nodes - 1))
                 + 1e-9, 6) AS phi
    FROM rc WHERE n_nodes >= 2
    ORDER BY k
    """,
)
def rich_club_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient curve of the sparsified (top-90 by volume)
    nation trade graph: for each
    degree threshold k (the distinct observed degrees), phi(k) =
    2·E_k / (N_k·(N_k−1)) where N_k nodes have degree > k and E_k
    edges connect two such nodes — the standard diagnostic for
    whether hubs preferentially interconnect (phi→1 means the
    high-degree core is a near-clique).

    Scale shape: no quadratic node work — N_k and E_k are suffix sums
    over the DEGREE HISTOGRAM and the per-edge min-endpoint-degree
    histogram respectively (both bounded by the distinct-degree
    domain, not the node/edge count); the histograms come from one
    node-keyed and one edge-keyed aggregate, and the suffix sums are
    broadcast theta-joins of two tiny frames."""
    e0, und, deg = _trade_edges(Tables(spark, sf_dir))
    deg = deg.localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
    hist = deg.groupBy("d").agg(F.count(F.lit(1)).alias("nd"))
    ks = deg.select(F.col("d").alias("k")).distinct()
    da = deg.select(F.col("n").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("db"))
    em = (
        e0.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .groupBy(F.least("da", "db").alias("m"))
        .agg(F.count(F.lit(1)).alias("ne"))
    )
    nn = (
        ks.join(F.broadcast(hist), F.col("d") > F.col("k"), "left")
        .groupBy("k")
        .agg(F.coalesce(F.sum("nd"), F.lit(0)).alias("n_nodes"))
    )
    ee = (
        ks.join(F.broadcast(em), F.col("m") > F.col("k"), "left")
        .groupBy("k")
        .agg(F.coalesce(F.sum("ne"), F.lit(0)).alias("n_edges"))
    )
    rc = nn.join(ee, "k").filter(F.col("n_nodes") >= 2)
    return rc.select(
        F.col("k").cast("long").alias("k"),
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.col("n_edges").cast("long").alias("n_edges"),
        F.round(
            2.0
            * F.col("n_edges")
            / (F.col("n_nodes").cast("double") * (F.col("n_nodes") - 1))
            + 1e-9,
            6,
        ).alias("phi"),
    ).orderBy("k")


@query(
    "embedding_isotropy_stats",
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    ex AS (
      SELECT vec_id, idx.i AS i, v[idx.i] AS val
      FROM e, (SELECT unnest(range(1, 65)) AS i) idx),
    norms AS (SELECT vec_id, sum(val * val) AS sq FROM ex GROUP BY vec_id),
    comps AS (
      SELECT ex.i, sum(ex.val / sqrt(n.sq)) AS su, sum(ex.val) AS sv
      FROM ex JOIN norms n USING (vec_id) GROUP BY ex.i),
    agg AS (SELECT sum(su * su) AS usq, sum(sv * sv) AS svsq FROM comps),
    cnt AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(sq) AS ssq FROM norms)
    SELECT CAST(cnt.n AS BIGINT) AS n_vectors,
           round(sqrt(cnt.ssq / cnt.n) + 1e-9, 6) AS rms_norm,
           round(sqrt(agg.svsq) / cnt.n + 1e-9, 6) AS norm_of_mean,
           round((sqrt(agg.svsq) / cnt.n) / sqrt(cnt.ssq / cnt.n) + 1e-9, 6)
             AS isotropy_ratio,
           round((agg.usq - cnt.n) / (cnt.n * (cnt.n - 1)) + 1e-9, 6)
             AS avg_pairwise_cos
    FROM agg, cnt
    """,
)
def embedding_isotropy_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotropy diagnostics of the embedding space — the checks run
    before trusting cosine similarity for dedup/retrieval: RMS vector
    norm, norm of the mean vector (a large value means a dominant
    common direction — the classic anisotropy failure), their ratio,
    and the EXACT mean pairwise cosine of the whole corpus computed
    WITHOUT any pairwise join via the identity Σ_{i≠j} u_i·u_j =
    ‖Σu‖² − n for unit vectors.

    Scale shape: one posexplode pass (n·dim narrow rows), a vec-keyed
    aggregate for norms, a dim-keyed aggregate for component sums
    (dim rows), then scalar algebra — the all-pairs statistic costs
    O(n·dim), never O(n²)."""
    emb = Tables(spark, sf_dir).embeddings
    ex = emb.select(
        "vec_id", F.posexplode("embedding").alias("i", "valf")
    ).select("vec_id", "i", F.col("valf").cast("double").alias("val"))
    norms = ex.groupBy("vec_id").agg(
        F.sum(F.col("val") * F.col("val")).alias("sq")
    )
    comps = (
        ex.join(norms, "vec_id")
        .groupBy("i")
        .agg(
            F.sum(F.col("val") / F.sqrt(F.col("sq"))).alias("su"),
            F.sum("val").alias("sv"),
        )
    )
    agg = comps.agg(
        F.sum(F.col("su") * F.col("su")).alias("usq"),
        F.sum(F.col("sv") * F.col("sv")).alias("svsq"),
    )
    cnt = norms.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("sq").alias("ssq"),
    )
    j = agg.crossJoin(F.broadcast(cnt))
    n = F.col("n")
    rms = F.sqrt(F.col("ssq") / n)
    nom = F.sqrt(F.col("svsq")) / n
    return j.select(
        n.cast("long").alias("n_vectors"),
        F.round(rms + 1e-9, 6).alias("rms_norm"),
        F.round(nom + 1e-9, 6).alias("norm_of_mean"),
        F.round(nom / rms + 1e-9, 6).alias("isotropy_ratio"),
        F.round((F.col("usq") - n) / (n * (n - 1)) + 1e-9, 6).alias(
            "avg_pairwise_cos"
        ),
    )


def _sweep_oracle() -> str:
    from ror_etl_spark.queries.dedup import _JACCARD, _minhash_ctes

    return f"""
    WITH {_minhash_ctes()},
    ver AS (
      SELECT c.id_a, c.id_b, {_JACCARD} AS j
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.id_a
      JOIN sh sb ON sb.doc_id = c.id_b
      WHERE {_JACCARD} >= 0.5),
    ths AS (SELECT unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS t),
    m AS (SELECT ths.t, ver.id_a, ver.id_b FROM ths JOIN ver ON ver.j >= ths.t),
    p AS (SELECT t, count(*) AS n_pairs FROM m GROUP BY t),
    dd AS (
      SELECT t, count(DISTINCT d) AS n_docs
      FROM (SELECT t, id_a AS d FROM m UNION ALL SELECT t, id_b FROM m)
      GROUP BY t)
    SELECT ths.t AS threshold,
           CAST(coalesce(p.n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(coalesce(dd.n_docs, 0) AS BIGINT) AS n_docs
    FROM ths LEFT JOIN p ON p.t = ths.t LEFT JOIN dd ON dd.t = ths.t
    ORDER BY threshold
    """


@query("dedup_threshold_sweep", oracle=_sweep_oracle())
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dedup THRESHOLD TUNING CURVE: candidate pairs and affected
    documents at Jaccard cutoffs 0.5–0.9, all from ONE MinHash-LSH
    candidate generation + ONE exact verify pass — the report an
    operator owner reads to pick the production threshold (too low
    deletes paraphrases, too high leaves templates; the knee of
    n_docs(t) is the decision). Companion to the registered
    ``dedup_minhash_lsh`` funnel (same portable md5 signature chain,
    so the oracle replays banding + verification bit-identically).

    Scale shape: signatures O(LANE_POOL)/doc, candidates bucketed by
    band key (never all-pairs), verify is candidate-restricted
    (operators/dedup.py:jaccard_verify); the sweep itself is a 5-row
    literal frame theta-joined to the OUTPUT-SIZED verified pairs, so
    the five thresholds cost five scans of an already-tiny frame."""
    from ror_etl_spark.operators.dedup import (
        jaccard_verify,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    d = Tables(spark, sf_dir).documents
    sigs = minhash_signatures(d, num_hashes=32)
    cands = lsh_candidate_pairs(sigs, bands=8, rows_per_band=4)
    ver = jaccard_verify(cands, d, threshold=0.5).localCheckpoint(
        eager=False, storageLevel=_DISK_ONLY
    )
    ths = spark.createDataFrame(
        [(0.5,), (0.6,), (0.7,), (0.8,), (0.9,)], "t double"
    )
    m = ths.join(ver, ver["jaccard"] >= F.col("t")).localCheckpoint(
        eager=False, storageLevel=_DISK_ONLY
    )
    p = m.groupBy("t").agg(F.count(F.lit(1)).alias("n_pairs"))
    dd = (
        m.select("t", F.col("id_a").alias("d"))
        .unionAll(m.select("t", F.col("id_b").alias("d")))
        .groupBy("t")
        .agg(F.count_distinct("d").alias("n_docs"))
    )
    return (
        ths.join(p, "t", "left")
        .join(dd, "t", "left")
        .select(
            F.col("t").alias("threshold"),
            F.coalesce(F.col("n_pairs"), F.lit(0)).cast("long").alias(
                "n_pairs"
            ),
            F.coalesce(F.col("n_docs"), F.lit(0)).cast("long").alias("n_docs"),
        )
        .orderBy("threshold")
    )


@query(
    "seasonal_strength_weekday",
    oracle="""
    WITH daily AS (
      SELECT o_orderdate AS dt, round(sum(o_totalprice) + 1e-9, 2) AS rev
      FROM orders GROUP BY dt),
    tr AS (
      SELECT dt, rev,
             avg(rev) OVER (ORDER BY dt ROWS BETWEEN 3 PRECEDING AND
               3 FOLLOWING) AS trend,
             count(*) OVER (ORDER BY dt ROWS BETWEEN 3 PRECEDING AND
               3 FOLLOWING) AS wn
      FROM daily),
    det AS (
      SELECT date_diff('day', TIMESTAMP '1970-01-01', dt) % 7 AS wd,
             rev - trend AS x
      FROM tr WHERE wn = 7),
    seas AS (SELECT wd, round(avg(x) + 1e-9, 4) AS s FROM det GROUP BY wd),
    agg AS (
      SELECT count(*) AS n, var_pop(det.x) AS vd,
             var_pop(det.x - seas.s) AS vr
      FROM det JOIN seas ON seas.wd = det.wd),
    pk AS (
      SELECT wd AS peak_weekday FROM seas ORDER BY s DESC, wd LIMIT 1)
    SELECT CAST(agg.n AS BIGINT) AS n_days,
           CAST(pk.peak_weekday AS BIGINT) AS peak_weekday,
           round(greatest(0.0, 1.0 - agg.vr / agg.vd) + 1e-9, 6)
             AS seasonal_strength
    FROM agg, pk
    """,
)
def seasonal_strength_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-strength score F_s = max(0, 1 − Var(residual) /
    Var(detrended)) of daily revenue against the weekday cycle — the
    single number (Hyndman's STL feature) that says whether the
    ``timeseries_decompose_weekday`` seasonal indices are signal or
    noise, i.e. whether a forecast should carry the weekly term at
    all — plus the peak weekday (argmax seasonal index, rounded
    before the rank with a weekday tiebreak). Same frame conventions
    as the registered decomposition: centered 7-day MA trend,
    full-window days only, weekday = epoch-days mod 7 (integer-exact
    on both engines).

    Exactness: the daily series is quantized at 2 dp (the
    wilcoxon/ar1 rule — each day's sum is the same IEEE double on
    both engines) and the 7 seasonal indices at 4 dp before the
    residual subtraction; the only outputs are scale-free (a variance
    RATIO and an integer argmax), because raw variances of ~1e6-sized
    residuals sit at ~1e11 where a 2 dp round is tighter than
    cross-engine summation-order agreement.

    Scale shape: one date-keyed aggregate of the fact table; the MA
    window and the variance pass run over the calendar-bounded daily
    frame (~2.4k rows); the seasonal join is a broadcast of 7 rows."""
    o = Tables(spark, sf_dir).orders
    daily = o.groupBy(F.col("o_orderdate").alias("dt")).agg(
        F.round(F.sum("o_totalprice") + 1e-9, 2).alias("rev")
    )
    w = Window.orderBy("dt").rowsBetween(-3, 3)
    tr = daily.select(
        "dt",
        "rev",
        F.avg("rev").over(w).alias("trend"),
        F.count(F.lit(1)).over(w).alias("wn"),
    ).filter(F.col("wn") == 7)
    det = tr.select(
        (
            F.datediff(F.col("dt").cast("date"), F.lit("1970-01-01").cast("date"))
            % 7
        ).alias("wd"),
        (F.col("rev") - F.col("trend")).alias("x"),
    ).localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
    seas = det.groupBy("wd").agg(F.round(F.avg("x") + 1e-9, 4).alias("s"))
    seas = seas.localCheckpoint(eager=False)
    agg = det.join(F.broadcast(seas), "wd").agg(
        F.count(F.lit(1)).alias("n"),
        F.var_pop("x").alias("vd"),
        F.var_pop(F.col("x") - F.col("s")).alias("vr"),
    )
    pk = seas.orderBy(F.desc("s"), F.asc("wd")).limit(1).select(
        F.col("wd").alias("peak_weekday")
    )
    return agg.crossJoin(F.broadcast(pk)).select(
        F.col("n").cast("long").alias("n_days"),
        F.col("peak_weekday").cast("long").alias("peak_weekday"),
        F.round(
            F.greatest(F.lit(0.0), 1.0 - F.col("vr") / F.col("vd")) + 1e-9, 6
        ).alias("seasonal_strength"),
    )


# ---------------------------------------------------------------------------
# Sixth wave (staged late r10): spectral seasonality, multivariate outliers,
# diff-in-differences, energy distance
# ---------------------------------------------------------------------------

# cos/sin of 2*pi*k/7 as shared 17-significant-digit literals: BOTH engines
# consume the identical doubles, so no libm-vs-Java trig ULP ever crosses
# the comparison boundary (the same literal-constant trick as the BH normal
# CDF polynomial).
import math as _math

_COS7 = [float(f"{_math.cos(2 * _math.pi * k / 7):.17g}") for k in range(7)]
_SIN7 = [float(f"{_math.sin(2 * _math.pi * k / 7):.17g}") for k in range(7)]


def _dft_oracle() -> str:
    cos_l = ", ".join(f"{c:.17g}" for c in _COS7)
    sin_l = ", ".join(f"{s:.17g}" for s in _SIN7)
    return f"""
    WITH daily AS (
      SELECT date_diff('day', TIMESTAMP '1992-01-01', l_shipdate) AS d,
             round(sum(l_extendedprice) + 1e-9, 2) AS y
      FROM lineitem GROUP BY d),
    st AS (SELECT avg(y) AS ybar, CAST(count(*) AS DOUBLE) AS n,
                  var_pop(y) * count(*) AS ss FROM daily),
    tr AS (
      SELECT (daily.y - st.ybar) * ([{cos_l}])[(daily.d % 7) + 1] AS cy,
             (daily.y - st.ybar) * ([{sin_l}])[(daily.d % 7) + 1] AS sy
      FROM daily, st),
    agg AS (SELECT sum(cy) AS c, sum(sy) AS s FROM tr)
    SELECT CAST(st.n AS BIGINT) AS n_days,
           round(2.0 * sqrt(agg.c * agg.c + agg.s * agg.s) / st.n + 1e-9, 2)
             AS weekly_amplitude,
           round(2.0 * (agg.c * agg.c + agg.s * agg.s) / (st.n * st.ss)
                 + 1e-9, 6) AS frac_variance_weekly
    FROM agg, st
    """


@query("dft_weekly_power", oracle=_dft_oracle())
def dft_weekly_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-bin discrete Fourier transform of daily revenue at the
    weekly frequency (the Goertzel statistic): C = Σ(y−ȳ)cos(2πd/7),
    S = Σ(y−ȳ)sin(2πd/7), reported as the fitted weekly AMPLITUDE
    2√(C²+S²)/n (in revenue units) and the fraction of series variance
    the weekly sinusoid explains, 2(C²+S²)/(n·SS) — the spectral twin
    of ``seasonal_strength_weekday`` (that one measures the arbitrary
    weekday PROFILE; this one the pure sinusoid, so profile-shaped but
    non-sinusoidal seasonality splits the two diagnostics).

    Exactness: only 7 distinct angles exist (d mod 7), and their
    cos/sin enter BOTH engines as the same 17-digit literals — no trig
    function runs in either engine, so no libm ULP can cross the
    boundary; the daily series is 2dp-quantized as usual.

    Scale shape: one date-keyed aggregate, then two scalar passes over
    the calendar-bounded daily frame."""
    li = Tables(spark, sf_dir).lineitem
    daily = li.groupBy(
        F.datediff(
            F.col("l_shipdate").cast("date"), F.lit("1992-01-01").cast("date")
        ).alias("d")
    ).agg(F.round(F.sum("l_extendedprice") + 1e-9, 2).alias("y"))
    daily = daily.localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
    st = daily.agg(
        F.avg("y").alias("ybar"),
        F.count(F.lit(1)).cast("double").alias("n"),
        (F.var_pop("y") * F.count(F.lit(1))).alias("ss"),
    )
    cos_arr = F.array(*[F.lit(c) for c in _COS7])
    sin_arr = F.array(*[F.lit(s) for s in _SIN7])
    k = (F.pmod(F.col("d"), F.lit(7)) + 1).cast("int")
    tr = daily.crossJoin(F.broadcast(st)).select(
        ((F.col("y") - F.col("ybar")) * F.element_at(cos_arr, k)).alias("cy"),
        ((F.col("y") - F.col("ybar")) * F.element_at(sin_arr, k)).alias("sy"),
        "n",
        "ss",
    )
    agg = tr.agg(
        F.sum("cy").alias("c"),
        F.sum("sy").alias("s"),
        F.max("n").alias("n"),
        F.max("ss").alias("ss"),
    )
    r2 = F.col("c") * F.col("c") + F.col("s") * F.col("s")
    return agg.select(
        F.col("n").cast("long").alias("n_days"),
        F.round(2.0 * F.sqrt(r2) / F.col("n") + 1e-9, 2).alias(
            "weekly_amplitude"
        ),
        F.round(2.0 * r2 / (F.col("n") * F.col("ss")) + 1e-9, 6).alias(
            "frac_variance_weekly"
        ),
    )


@query(
    "mahalanobis_outlier_customers",
    oracle="""
    WITH cust AS (
      SELECT o_custkey AS ck, CAST(count(*) AS DOUBLE) AS n_orders,
             round(sum(o_totalprice) + 1e-9, 2) AS spend
      FROM orders GROUP BY o_custkey),
    mo AS (
      SELECT avg(spend) AS m1, avg(n_orders) AS m2,
             var_pop(spend) AS s11, var_pop(n_orders) AS s22,
             covar_pop(spend, n_orders) AS s12
      FROM cust),
    d AS (
      SELECT cust.ck, cust.spend, cust.n_orders,
             ((cust.spend - mo.m1) * (cust.spend - mo.m1) * mo.s22
              - 2 * (cust.spend - mo.m1) * (cust.n_orders - mo.m2) * mo.s12
              + (cust.n_orders - mo.m2) * (cust.n_orders - mo.m2) * mo.s11)
             / (mo.s11 * mo.s22 - mo.s12 * mo.s12) AS d2
      FROM cust, mo)
    SELECT CAST(ck AS BIGINT) AS c_custkey, spend,
           CAST(n_orders AS BIGINT) AS n_orders,
           round(d2 + 1e-9, 4) AS mahalanobis_d2
    FROM d
    ORDER BY round(d2 + 1e-9, 4) DESC, ck
    LIMIT 10
    """,
)
def mahalanobis_outlier_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multivariate outlier screen: top-10 customers by Mahalanobis
    distance in the (total spend, order count) plane, with the 2x2
    covariance inverted in closed form — catches the joint outliers a
    per-column IQR/MAD screen misses (huge spend on few orders, or
    many tiny orders). The multivariate sibling of the registered
    ``outlier_iqr_events`` / ``outlier_mad_events``.

    Scale shape: one customer-keyed aggregate, ONE streaming-moment
    pass for the 5 covariance terms (broadcast back), a pure map for
    d², and a round-before-rank TakeOrdered(10) with custkey tiebreak."""
    o = Tables(spark, sf_dir).orders
    cust = o.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.count(F.lit(1)).cast("double").alias("n_orders"),
        F.round(F.sum("o_totalprice") + 1e-9, 2).alias("spend"),
    )
    cust = cust.localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
    mo = cust.agg(
        F.avg("spend").alias("m1"),
        F.avg("n_orders").alias("m2"),
        F.var_pop("spend").alias("s11"),
        F.var_pop("n_orders").alias("s22"),
        F.covar_pop("spend", "n_orders").alias("s12"),
    )
    j = cust.crossJoin(F.broadcast(mo))
    dx = F.col("spend") - F.col("m1")
    dy = F.col("n_orders") - F.col("m2")
    det = F.col("s11") * F.col("s22") - F.col("s12") * F.col("s12")
    d2 = (
        dx * dx * F.col("s22") - 2 * dx * dy * F.col("s12") + dy * dy * F.col("s11")
    ) / det
    out = j.select(
        F.col("ck").cast("long").alias("c_custkey"),
        "spend",
        F.col("n_orders").cast("long").alias("n_orders"),
        F.round(d2 + 1e-9, 4).alias("mahalanobis_d2"),
    )
    return out.orderBy(F.desc("mahalanobis_d2"), F.asc("c_custkey")).limit(10)


@query(
    "did_revenue_building_1995",
    oracle="""
    WITH s AS (
      SELECT CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS trt,
             CASE WHEN o.o_orderdate >= TIMESTAMP '1995-01-01' THEN 1
                  ELSE 0 END AS post,
             o.o_totalprice AS y
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
    cells AS (
      SELECT trt, post, CAST(count(*) AS DOUBLE) AS n, avg(y) AS m,
             var_samp(y) AS v
      FROM s GROUP BY trt, post),
    w AS (
      SELECT
        max(CASE WHEN trt = 1 AND post = 1 THEN m END) AS m11,
        max(CASE WHEN trt = 1 AND post = 0 THEN m END) AS m10,
        max(CASE WHEN trt = 0 AND post = 1 THEN m END) AS m01,
        max(CASE WHEN trt = 0 AND post = 0 THEN m END) AS m00,
        sum(v / n) AS var_did,
        CAST(sum(n) AS BIGINT) AS n_orders
      FROM cells)
    SELECT n_orders,
           round(m10 + 1e-9, 4) AS pre_treated,
           round(m00 + 1e-9, 4) AS pre_control,
           round((m11 - m10) - (m01 - m00) + 1e-9, 4) AS did_estimate,
           round(((m11 - m10) - (m01 - m00)) / sqrt(var_did) + 1e-9, 4) AS z
    FROM w
    """,
)
def did_revenue_building_1995(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimate of the BUILDING segment's
    order-value shift after 1995-01-01: (treated post − treated pre) −
    (control post − control pre), with the Welch-style standard error
    from the four cell variances — the workhorse quasi-experimental
    estimator, as one declarative plan. Companion to the staged CUPED
    op (variance reduction when a pre-period covariate exists; DiD
    when only group-level parallel trends are defensible).

    Scale shape: one broadcast-dimension join, one 4-cell aggregate
    (map-side combinable), then scalar algebra on the 4-row frame."""
    t = Tables(spark, sf_dir)
    s = t.orders.join(
        F.broadcast(t.customer.select("c_custkey", "c_mktsegment")),
        F.col("o_custkey") == F.col("c_custkey"),
    ).select(
        F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias("trt"),
        F.when(
            F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp_ntz"), 1
        )
        .otherwise(0)
        .alias("post"),
        F.col("o_totalprice").alias("y"),
    )
    cells = s.groupBy("trt", "post").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("y").alias("m"),
        F.var_samp("y").alias("v"),
    )
    w = cells.agg(
        F.max(F.when((F.col("trt") == 1) & (F.col("post") == 1), F.col("m"))).alias("m11"),
        F.max(F.when((F.col("trt") == 1) & (F.col("post") == 0), F.col("m"))).alias("m10"),
        F.max(F.when((F.col("trt") == 0) & (F.col("post") == 1), F.col("m"))).alias("m01"),
        F.max(F.when((F.col("trt") == 0) & (F.col("post") == 0), F.col("m"))).alias("m00"),
        F.sum(F.col("v") / F.col("n")).alias("var_did"),
        F.sum("n").cast("long").alias("n_orders"),
    )
    did = (F.col("m11") - F.col("m10")) - (F.col("m01") - F.col("m00"))
    return w.select(
        "n_orders",
        F.round(F.col("m10") + 1e-9, 4).alias("pre_treated"),
        F.round(F.col("m00") + 1e-9, 4).alias("pre_control"),
        F.round(did + 1e-9, 4).alias("did_estimate"),
        F.round(did / F.sqrt(F.col("var_did")) + 1e-9, 4).alias("z"),
    )


@query(
    "energy_distance_value",
    oracle="""
    WITH s AS (
      SELECT value AS v,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ia
      FROM events WHERE event_type IN ('click', 'purchase')),
    g AS (SELECT v, CAST(sum(ia) AS DOUBLE) AS ca,
                 CAST(count(*) - sum(ia) AS DOUBLE) AS cb
          FROM s GROUP BY v),
    r AS (
      SELECT v, ca, cb,
             sum(ca) OVER w AS cai, sum(cb) OVER w AS cbi,
             sum(v * ca) OVER w AS sai, sum(v * cb) OVER w AS sbi
      FROM g
      WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND
                   CURRENT ROW)),
    tot AS (SELECT sum(ca) AS na, sum(cb) AS nb,
                   sum(v * ca) AS ta, sum(v * cb) AS tb FROM g),
    agg AS (
      SELECT
        sum(r.ca * (2 * r.v * r.cbi - 2 * r.sbi + tot.tb - r.v * tot.nb))
          AS cross_sum,
        sum(r.ca * (2 * r.v * r.cai - 2 * r.sai + tot.ta - r.v * tot.na))
          AS wa_sum,
        sum(r.cb * (2 * r.v * r.cbi - 2 * r.sbi + tot.tb - r.v * tot.nb))
          AS wb_sum,
        max(tot.na) AS na, max(tot.nb) AS nb
      FROM r, tot)
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           round(cross_sum / (na * nb) + 1e-9, 4) AS mean_cross_dist,
           round(wa_sum / (na * na) + 1e-9, 4) AS mean_within_a,
           round(wb_sum / (nb * nb) + 1e-9, 4) AS mean_within_b,
           round(2 * cross_sum / (na * nb) - wa_sum / (na * na)
                 - wb_sum / (nb * nb) + 1e-9, 4) AS energy_distance
    FROM agg
    """,
)
def energy_distance_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample ENERGY DISTANCE between the click and purchase value
    distributions: D² = 2·E|X−Y| − E|X−X'| − E|Y−Y'| — zero iff the
    distributions are equal, and sensitive to spread/shape differences
    that location tests (Mann-Whitney) and sup-gap tests (KS) both
    underweight; completes the staged two-sample battery (KS, CvM, MW,
    Mood). Each all-pairs mean |difference| collapses to a closed form
    over the SORTED distinct-value frame — Σ_pairs|a−b| =
    Σ_v c_v·(2v·C(v) − 2S(v) + T − v·N) with inclusive cumulative
    count C and sum S — so the O(n²) statistic costs one cumsum.

    Scale shape: one groupBy(value), ONE distributed inclusive cumsum
    of four columns (``global_cumsum``), one scalar aggregate; count
    products in double (ADVICE-r9 rule)."""
    e = Tables(spark, sf_dir).events.filter(
        F.col("event_type").isin("click", "purchase")
    )
    g = e.groupBy(F.col("value").alias("v")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("double")
        .alias("ca"),
        F.sum(F.when(F.col("event_type") == "click", 0).otherwise(1))
        .cast("double")
        .alias("cb"),
    )
    g = g.select(
        "v",
        "ca",
        "cb",
        (F.col("v") * F.col("ca")).alias("va"),
        (F.col("v") * F.col("cb")).alias("vb"),
    ).localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
    r = global_cumsum(
        g, ["v"], ["ca", "cb", "va", "vb"], out=["bca", "bcb", "bva", "bvb"]
    )
    tot = g.agg(
        F.sum("ca").alias("na"),
        F.sum("cb").alias("nb"),
        F.sum("va").alias("ta"),
        F.sum("vb").alias("tb"),
    )
    j = r.crossJoin(F.broadcast(tot))
    cai = F.col("bca") + F.col("ca")
    cbi = F.col("bcb") + F.col("cb")
    sai = F.col("bva") + F.col("va")
    sbi = F.col("bvb") + F.col("vb")
    v = F.col("v")
    agg = j.agg(
        F.sum(
            F.col("ca") * (2 * v * cbi - 2 * sbi + F.col("tb") - v * F.col("nb"))
        ).alias("cross_sum"),
        F.sum(
            F.col("ca") * (2 * v * cai - 2 * sai + F.col("ta") - v * F.col("na"))
        ).alias("wa_sum"),
        F.sum(
            F.col("cb") * (2 * v * cbi - 2 * sbi + F.col("tb") - v * F.col("nb"))
        ).alias("wb_sum"),
        F.max("na").alias("na"),
        F.max("nb").alias("nb"),
    )
    na, nb = F.col("na"), F.col("nb")
    mc = F.col("cross_sum") / (na * nb)
    wa = F.col("wa_sum") / (na * na)
    wb = F.col("wb_sum") / (nb * nb)
    return agg.select(
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        F.round(mc + 1e-9, 4).alias("mean_cross_dist"),
        F.round(wa + 1e-9, 4).alias("mean_within_a"),
        F.round(wb + 1e-9, 4).alias("mean_within_b"),
        F.round(2 * mc - wa - wb + 1e-9, 4).alias("energy_distance"),
    )


@query(
    "heaps_law_vocab_fit",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                          ' ') AS t
      FROM documents),
    per AS (SELECT doc_id, CAST(array_length(t) AS BIGINT) AS n_tok FROM toks),
    firsts AS (
      SELECT min_doc, count(*) AS newt FROM (
        SELECT u.tok AS tok, min(toks.doc_id) AS min_doc
        FROM toks, unnest(toks.t) AS u(tok) GROUP BY u.tok)
      GROUP BY min_doc),
    pts AS (
      SELECT per.doc_id,
             sum(per.n_tok) OVER w AS cum_n,
             sum(coalesce(firsts.newt, 0)) OVER w AS cum_v
      FROM per LEFT JOIN firsts ON firsts.min_doc = per.doc_id
      WINDOW w AS (ORDER BY per.doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)),
    lg AS (
      SELECT ln(CAST(cum_n AS DOUBLE)) AS x, ln(CAST(cum_v AS DOUBLE)) AS y
      FROM pts WHERE cum_n > 0 AND cum_v > 0),
    mo AS (
      SELECT count(*) AS np, covar_pop(x, y) AS sxy, var_pop(x) AS sx,
             var_pop(y) AS sy, avg(x) AS mx, avg(y) AS my
      FROM lg)
    SELECT CAST(np AS BIGINT) AS n_points,
           round(sxy / sx + 1e-9, 4) AS beta,
           round(exp(my - (sxy / sx) * mx) + 1e-9, 2) AS k_coef,
           round(sxy * sxy / (sx * sy) + 1e-9, 6) AS r2
    FROM mo
    """,
)
def heaps_law_vocab_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit of vocabulary growth: V(N) ≈ K·N^β, estimated by
    log-log OLS over the per-document prefix points (cumulative tokens
    N_d, cumulative distinct types V_d) in doc_id order — the
    corpus-health diagnostic behind the repo's open-vocabulary
    rehearsal tiers (β ≈ 0.4–0.6 for natural text; β near 0 flags a
    closed template vocabulary, β near 1 flags id/noise contamination).
    Companion to ``text_zipf_fit`` (rank-frequency) and
    ``text_ngram_novelty`` (whose per-doc first-seen counts are
    exactly the V increments used here).

    Exactness: both cumulative series are INTEGER counts (one
    distributed cumsum via ``global_cumsum``), so both engines take ln
    of identical doubles; the OLS is one streaming-moment aggregate.

    Scale shape: one token explode + token-keyed min aggregate (the
    novelty shape), one doc-keyed aggregate, one distributed cumsum
    over the doc frame, one scalar moment pass."""
    d = Tables(spark, sf_dir).documents
    toks = spread(d).select(
        "doc_id",
        F.split(
            F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "
        ).alias("t"),
    ).localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
    per = toks.select("doc_id", F.size("t").cast("long").alias("n_tok"))
    firsts = (
        toks.select("doc_id", F.explode("t").alias("tok"))
        .groupBy("tok")
        .agg(F.min("doc_id").alias("min_doc"))
        .groupBy("min_doc")
        .agg(F.count(F.lit(1)).alias("newt"))
    )
    base = per.join(
        firsts, per["doc_id"] == firsts["min_doc"], "left"
    ).select(
        "doc_id", "n_tok", F.coalesce(F.col("newt"), F.lit(0)).alias("newt")
    )
    r = global_cumsum(base, ["doc_id"], ["n_tok", "newt"], out=["bn", "bv"])
    pts = r.select(
        (F.col("bn") + F.col("n_tok")).alias("cum_n"),
        (F.col("bv") + F.col("newt")).alias("cum_v"),
    ).filter((F.col("cum_n") > 0) & (F.col("cum_v") > 0))
    lg = pts.select(
        F.log(F.col("cum_n").cast("double")).alias("x"),
        F.log(F.col("cum_v").cast("double")).alias("y"),
    )
    mo = lg.agg(
        F.count(F.lit(1)).alias("np"),
        F.covar_pop("x", "y").alias("sxy"),
        F.var_pop("x").alias("sx"),
        F.var_pop("y").alias("sy"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
    )
    beta = F.col("sxy") / F.col("sx")
    return mo.select(
        F.col("np").cast("long").alias("n_points"),
        F.round(beta + 1e-9, 4).alias("beta"),
        F.round(F.exp(F.col("my") - beta * F.col("mx")) + 1e-9, 2).alias(
            "k_coef"
        ),
        F.round(
            F.col("sxy") * F.col("sxy") / (F.col("sx") * F.col("sy")) + 1e-9, 6
        ).alias("r2"),
    )


@query(
    "negbin_overdispersion_events",
    oracle="""
    WITH u AS (
      SELECT user_id, CAST(count(*) AS DOUBLE) AS c FROM events
      GROUP BY user_id),
    mo AS (
      SELECT CAST(count(*) AS BIGINT) AS n, avg(c) AS m, var_samp(c) AS v
      FROM u)
    SELECT n AS n_users,
           round(m + 1e-9, 4) AS mean_count,
           round(v / m + 1e-9, 4) AS dispersion_index,
           round((v / m - 1.0) * sqrt((n - 1) / 2.0) + 1e-9, 4)
             AS overdispersion_z,
           round(CASE WHEN v > m THEN m * m / (v - m) ELSE -1.0 END + 1e-9, 4)
             AS nb_r,
           round(CASE WHEN v > m THEN m / v ELSE -1.0 END + 1e-9, 6) AS nb_p
    FROM mo
    """,
)
def negbin_overdispersion_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-binomial fit of per-user event counts by method of
    moments (r = m²/(v−m), p = m/v) plus the dispersion index v/m and
    its normal-approximation z against the Poisson null — the
    count-model diagnostic that says whether per-user activity needs a
    heterogeneity (NB) model or plain Poisson; companion to
    ``fano_factor_by_event_type`` (windowed counts) and the staged
    interarrival/log-normal fits. Underdispersed data (v ≤ m) reports
    the sentinel -1 for the NB parameters on both engines instead of a
    negative-r nonsense fit.

    Scale shape: one user-keyed count aggregate, one streaming-moment
    scalar pass."""
    e = Tables(spark, sf_dir).events
    u = e.groupBy("user_id").agg(F.count(F.lit(1)).cast("double").alias("c"))
    mo = u.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg("c").alias("m"),
        F.var_samp("c").alias("v"),
    )
    m, v, n = F.col("m"), F.col("v"), F.col("n")
    return mo.select(
        n.alias("n_users"),
        F.round(m + 1e-9, 4).alias("mean_count"),
        F.round(v / m + 1e-9, 4).alias("dispersion_index"),
        F.round(
            (v / m - 1.0) * F.sqrt((n - 1).cast("double") / 2.0) + 1e-9, 4
        ).alias("overdispersion_z"),
        F.round(
            F.when(v > m, m * m / (v - m)).otherwise(F.lit(-1.0)) + 1e-9, 4
        ).alias("nb_r"),
        F.round(
            F.when(v > m, m / v).otherwise(F.lit(-1.0)) + 1e-9, 6
        ).alias("nb_p"),
    )
