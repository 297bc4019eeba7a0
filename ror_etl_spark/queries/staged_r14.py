"""Unserved operators: implemented and oracle-equipped, checked under
pytest (``tests/test_staged_r14.py``), but never imported by
``queries.load()``, so neither the registry nor the driver reaches them.
The module is kept only while its tests are retired a batch at a time;
nothing may register from it.

Contents: the Kuiper ECDF statistic and Kendall's W rank concordance,
grouped logistic regression by IRLS with its Hosmer-Lemeshow
calibration companion, deterministic Misra-Gries heavy-hitter tokens
with an exact recount, kth-NN distance outliers on the embedding
subsample, exact-minimax isotonic regression, Cochran-Armitage ordered
trend, single-instrument Wald/2SLS, Fleiss' kappa, SMR indirect
standardization, weighted single-source shortest paths and a Kruskal
spanning backbone on the sparsified trade graph, zero-inflated Poisson
moments, Yule's K lexical diversity, the Hodges-Lehmann shift, Katz
centrality, Taylor's power law, the Pettitt rank change point and the
generalized ESD outlier test.

Every entry follows the registry discipline (registry.py module
docstring): identical aliases both sides, epsilon-shifted rounding on
floats, round-before-rank with total-order tiebreaks, quantized
iteration trajectories replayed by the DuckDB oracle, and the strict
dtype rule.
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
# ECDF and rank statistics
# ---------------------------------------------------------------------------


@staged(
    "kuiper_value_click_purchase",
    oracle="""
    WITH s AS (
      SELECT value,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ia,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ib
      FROM events WHERE event_type IN ('click', 'purchase')),
    g AS (SELECT value, sum(ia) AS ca, sum(ib) AS cb FROM s GROUP BY value),
    tot AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM g),
    cum AS (
      SELECT sum(ca) OVER (ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cca,
             sum(cb) OVER (ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ccb
      FROM g)
    SELECT CAST(tot.na AS BIGINT) AS n_a,
           CAST(tot.nb AS BIGINT) AS n_b,
           round(max(cca / tot.na - ccb / tot.nb) + 1e-9, 6) AS d_plus,
           round(max(ccb / tot.nb - cca / tot.na) + 1e-9, 6) AS d_minus,
           round(max(cca / tot.na - ccb / tot.nb)
                 + max(ccb / tot.nb - cca / tot.na) + 1e-9, 6) AS kuiper_v,
           round((max(cca / tot.na - ccb / tot.nb)
                  + max(ccb / tot.nb - cca / tot.na))
                 * sqrt(tot.na * 1.0 * tot.nb / (tot.na + tot.nb))
                 + 1e-9, 4) AS kuiper_stat
    FROM cum, tot
    GROUP BY tot.na, tot.nb
    """,
)
def kuiper_value_click_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kuiper two-sample statistic between the click and purchase
    ``value`` distributions: V = D+ + D- (the sum of the largest
    signed ECDF exceedances in each direction), plus the scaled
    V·sqrt(na·nb/(na+nb)). Kuiper weights both tails equally and is
    invariant to cyclic shifts — the member of the ECDF family
    (KS sup-gap, CvM integrated, AD tail-weighted) that detects
    two-sided spread changes KS halves its power on.

    Scale shape: identical to the registered KS op — one
    groupBy(value) aggregate, one DISTRIBUTED running sum over the
    distinct-value frame (``global_cumsum``), one max-pair. Integer
    counts divide once at the end, so both engines compare identical
    rationals."""
    from ror_etl_spark.operators.util import global_cumsum

    e = Tables(spark, sf_dir).events.filter(
        F.col("event_type").isin("click", "purchase")
    )
    g = e.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("cb"),
    )
    tot = g.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    cum = (
        global_cumsum(g, ["value"], ["ca", "cb"], out=["pa", "pb"])
        .select(
            (F.col("pa") + F.col("ca")).alias("cca"),
            (F.col("pb") + F.col("cb")).alias("ccb"),
        )
        .crossJoin(F.broadcast(tot))
    )
    up = F.col("cca") / F.col("na") - F.col("ccb") / F.col("nb")
    return cum.agg(
        F.max("na").cast("long").alias("n_a"),
        F.max("nb").cast("long").alias("n_b"),
        F.round(F.max(up) + 1e-9, 6).alias("d_plus"),
        F.round(F.max(-up) + 1e-9, 6).alias("d_minus"),
        F.round(F.max(up) + F.max(-up) + 1e-9, 6).alias("kuiper_v"),
        F.round(
            (F.max(up) + F.max(-up))
            * F.sqrt(
                F.max("na").cast("double")
                * F.max("nb").cast("double")
                / (F.max("na") + F.max("nb"))
            )
            + 1e-9,
            4,
        ).alias("kuiper_stat"),
    )


@staged(
    "kendall_w_weekday_type_ranks",
    oracle="""
    WITH cell AS (
      SELECT CAST(dayofweek(ts) AS BIGINT) AS wd, event_type,
             round(sum(value) + 1e-9, 4) AS v
      FROM events GROUP BY 1, 2),
    rk AS (
      SELECT wd, event_type,
             rank() OVER (PARTITION BY wd ORDER BY v DESC, event_type)
               AS r
      FROM cell),
    rs AS (
      SELECT event_type, sum(r) AS rj FROM rk GROUP BY event_type),
    dims AS (
      SELECT CAST(count(DISTINCT wd) AS DOUBLE) AS m,
             CAST(count(DISTINCT event_type) AS DOUBLE) AS k
      FROM rk),
    sdev AS (
      SELECT sum((rs.rj - dims.m * (dims.k + 1.0) / 2.0)
                 * (rs.rj - dims.m * (dims.k + 1.0) / 2.0)) AS s
      FROM rs CROSS JOIN dims)
    SELECT CAST(dims.m AS BIGINT) AS m_weekdays,
           CAST(dims.k AS BIGINT) AS k_types,
           round(sdev.s + 1e-9, 4) AS s_dev,
           round(12.0 * sdev.s
                 / (dims.m * dims.m * (dims.k * dims.k * dims.k - dims.k))
                 + 1e-9, 6) AS kendall_w,
           round(dims.m * (dims.k - 1.0) * 12.0 * sdev.s
                 / (dims.m * dims.m * (dims.k * dims.k * dims.k - dims.k))
                 + 1e-9, 4) AS chi2_stat
    FROM dims CROSS JOIN sdev
    """,
)
def kendall_w_weekday_type_ranks(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kendall's coefficient of concordance W across repeated rankings:
    each weekday 'judge' ranks the event types by total value; W =
    12·S/(m²(k³-k)) with S the squared deviation of rank sums from
    their mean, and chi² = m(k-1)·W. The effect-size companion to
    ``friedman_daily_type_ranks`` (same ranking model, W answers 'how
    strong is the agreement', Friedman answers 'is it nonzero').
    Revenue totals are quantized to 4 dp BEFORE ranking
    (round-before-rank) with an event-type tiebreak.

    Scale shape: one data-sized rollup to the 7 x |types| grid; ranks,
    rank sums, and W all run on bounded frames."""
    e = Tables(spark, sf_dir).events
    cell = e.groupBy(
        F.dayofweek("ts").cast("long").alias("wd"), "event_type"
    ).agg(F.round(F.sum("value") + 1e-9, 4).alias("v"))
    wr = Window.partitionBy("wd").orderBy(F.desc("v"), F.asc("event_type"))
    rk = cell.select("wd", "event_type", F.rank().over(wr).alias("r"))
    rs = rk.groupBy("event_type").agg(F.sum("r").alias("rj"))
    dims = rk.agg(
        F.countDistinct("wd").cast("double").alias("m"),
        F.countDistinct("event_type").cast("double").alias("k"),
    )
    sdev = (
        rs.crossJoin(F.broadcast(dims))
        .select(
            (
                (F.col("rj") - F.col("m") * (F.col("k") + 1.0) / 2.0)
                * (F.col("rj") - F.col("m") * (F.col("k") + 1.0) / 2.0)
            ).alias("d2")
        )
        .agg(F.sum("d2").alias("s"))
    )
    m, k, s = F.col("m"), F.col("k"), F.col("s")
    denom = m * m * (k * k * k - k)
    return dims.crossJoin(F.broadcast(sdev)).select(
        m.cast("long").alias("m_weekdays"),
        k.cast("long").alias("k_types"),
        F.round(s + 1e-9, 4).alias("s_dev"),
        F.round(12.0 * s / denom + 1e-9, 6).alias("kendall_w"),
        F.round(m * (k - 1.0) * 12.0 * s / denom + 1e-9, 4).alias(
            "chi2_stat"
        ),
    )


# ---------------------------------------------------------------------------
# Grouped logistic regression (IRLS) + calibration companion
# ---------------------------------------------------------------------------

_IRLS_ROUNDS = 2
_IRLS_Q = 8


def _logit_cells_sql() -> str:
    """Hour-grouped purchase-vs-click cells shared by the logistic and
    Hosmer-Lemeshow oracles."""
    return """hc AS (
      SELECT CAST(date_part('hour', ts) AS DOUBLE) AS h,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS y
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY 1)"""


def _logit_irls_ctes() -> list[str]:
    """Unrolled IRLS rounds: beta_k -> weighted-OLS sums -> beta_{k+1},
    each coefficient quantized to 8 dp (the PPR/EM trajectory rule)."""
    ctes = [_logit_cells_sql(), "b0 AS (SELECT 0.0 AS b0, 0.0 AS b1)"]
    for k in range(_IRLS_ROUNDS):
        ctes.append(
            f"""s{k} AS (
      SELECT sum(w) AS sw, sum(w * h) AS sh, sum(w * h * h) AS shh,
             sum(w * z) AS sz, sum(w * h * z) AS shz
      FROM (
        SELECT hc.h, hc.n * p * (1.0 - p) AS w,
               (b{k}.b0 + b{k}.b1 * hc.h)
                 + (hc.y - hc.n * p) / (hc.n * p * (1.0 - p)) AS z
        FROM (SELECT hc.h, hc.n, hc.y,
                     1.0 / (1.0 + exp(-(b{k}.b0 + b{k}.b1 * hc.h))) AS p
              FROM hc CROSS JOIN b{k}) hc CROSS JOIN b{k}))"""
        )
        ctes.append(
            f"""b{k + 1} AS (
      SELECT round((shh * sz - sh * shz) / (sw * shh - sh * sh)
                   + 1e-12, {_IRLS_Q}) AS b0,
             round((sw * shz - sh * sz) / (sw * shh - sh * sh)
                   + 1e-12, {_IRLS_Q}) AS b1
      FROM s{k})"""
        )
    return ctes


def _logit_final() -> str:
    return f"b{_IRLS_ROUNDS}"


_LOGIT_CTES = ",\n    ".join(_logit_irls_ctes())


@staged(
    "logistic_irls_purchase_hour",
    oracle=f"""
    WITH {_LOGIT_CTES},
    tot AS (SELECT sum(n) AS nobs, count(*) AS g FROM hc)
    SELECT CAST(tot.nobs AS BIGINT) AS n_obs,
           CAST(tot.g AS BIGINT) AS n_cells,
           round(fb.b0 + 1e-9, 6) AS beta0,
           round(fb.b1 + 1e-9, 6) AS beta1,
           round(1.0 / (1.0 + exp(-(fb.b0 + fb.b1 * 12.0))) + 1e-9, 6)
             AS p_noon
    FROM {_logit_final()} fb CROSS JOIN tot
    """,
)
def logistic_irls_purchase_hour(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Grouped logistic regression P(purchase | hour) by IRLS: events
    collapse to 24 (hour, n, y) cells, then two Newton/IRLS rounds of
    weighted least squares on the working response z = eta +
    (y - n·p)/(n·p(1-p)), coefficients quantized to 8 dp per round so
    the DuckDB oracle replays the exact trajectory (the registered
    GMM/PPR discipline). The GLM complement to
    ``ridge_elasticity_qty_price`` (Gaussian) and
    ``poisson_two_rate_test`` (counts): a binary-outcome model whose
    sufficient statistics live on the hour domain.

    Scale shape: ONE data-sized conditional aggregate to the 24-cell
    frame; each IRLS round is closed-form algebra on 24 rows (the
    2x2 normal equations are solved symbolically — no matrix
    library, no driver math)."""
    hc_df, beta = _logit_fit(spark, sf_dir)
    tot = hc_df.agg(
        F.sum("n").cast("long").alias("nobs"),
        F.count(F.lit(1)).cast("long").alias("g"),
    )
    return tot.crossJoin(F.broadcast(beta)).select(
        F.col("nobs").alias("n_obs"),
        F.col("g").alias("n_cells"),
        F.round(F.col("b0") + 1e-9, 6).alias("beta0"),
        F.round(F.col("b1") + 1e-9, 6).alias("beta1"),
        F.round(
            1.0 / (1.0 + F.exp(-(F.col("b0") + F.col("b1") * 12.0))) + 1e-9,
            6,
        ).alias("p_noon"),
    )


def _logit_fit(spark: SparkSession, sf_dir: str):
    """Shared IRLS fit: returns (24-cell frame, 1-row beta frame)."""
    e = Tables(spark, sf_dir).events.filter(
        F.col("event_type").isin("click", "purchase")
    )
    hc = (
        e.groupBy(F.hour("ts").cast("double").alias("h"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            .cast("double")
            .alias("y"),
        )
        .localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
    )
    beta = hc.sparkSession.range(1).select(
        F.lit(0.0).alias("b0"), F.lit(0.0).alias("b1")
    )
    for _ in range(_IRLS_ROUNDS):
        cells = hc.crossJoin(F.broadcast(beta))
        eta = F.col("b0") + F.col("b1") * F.col("h")
        p = 1.0 / (1.0 + F.exp(-eta))
        w = F.col("n") * p * (1.0 - p)
        z = eta + (F.col("y") - F.col("n") * p) / w
        s = cells.agg(
            F.sum(w).alias("sw"),
            F.sum(w * F.col("h")).alias("sh"),
            F.sum(w * F.col("h") * F.col("h")).alias("shh"),
            F.sum(w * z).alias("sz"),
            F.sum(w * F.col("h") * z).alias("shz"),
        )
        det = F.col("sw") * F.col("shh") - F.col("sh") * F.col("sh")
        beta = s.select(
            F.round(
                (F.col("shh") * F.col("sz") - F.col("sh") * F.col("shz"))
                / det
                + 1e-12,
                _IRLS_Q,
            ).alias("b0"),
            F.round(
                (F.col("sw") * F.col("shz") - F.col("sh") * F.col("sz"))
                / det
                + 1e-12,
                _IRLS_Q,
            ).alias("b1"),
        )
    return hc, beta


@staged(
    "hosmer_lemeshow_logistic_hour",
    oracle=f"""
    WITH {_LOGIT_CTES},
    pred AS (
      SELECT hc.h, hc.n, hc.y,
             1.0 / (1.0 + exp(-(fb.b0 + fb.b1 * hc.h))) AS p
      FROM hc CROSS JOIN {_logit_final()} fb),
    hl AS (
      SELECT CAST(count(*) AS BIGINT) AS g_cells,
             round(sum((y - n * p) * (y - n * p)
                       / (n * p * (1.0 - p))) + 1e-9, 4) AS hl_stat,
             round(max(abs(y / n - p)) + 1e-9, 6) AS max_cell_gap
      FROM pred)
    SELECT g_cells, CAST(g_cells - 2 AS BIGINT) AS df, hl_stat,
           max_cell_gap
    FROM hl
    """,
)
def hosmer_lemeshow_logistic_hour(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hosmer-Lemeshow goodness-of-calibration for the IRLS logistic
    model of P(purchase | hour): over the 24 natural hour cells, HL =
    sum (y - n·p)^2 / (n·p(1-p)) ~ chi2(cells - 2), plus the largest
    per-cell absolute calibration gap. Complements the model-free
    ``calibration_ece_bins`` (which bins by SCORE): HL conditions on
    the covariate cells the model was fit on, so it detects functional
    -form misfit (a quadratic hour effect) that score-binned ECE
    blurs. Shares the exact quantized IRLS trajectory with
    ``logistic_irls_purchase_hour`` — one fit, two verdicts.

    Scale shape: the same 24-cell aggregate + closed-form algebra; the
    only data-sized work is the one fact scan."""
    hc_df, beta = _logit_fit(spark, sf_dir)
    pred = hc_df.crossJoin(F.broadcast(beta)).select(
        "h",
        "n",
        "y",
        (1.0 / (1.0 + F.exp(-(F.col("b0") + F.col("b1") * F.col("h"))))).alias("p"),
    )
    return pred.agg(
        F.count(F.lit(1)).cast("long").alias("g_cells"),
        (F.count(F.lit(1)) - 2).cast("long").alias("df"),
        F.round(
            F.sum(
                (F.col("y") - F.col("n") * F.col("p"))
                * (F.col("y") - F.col("n") * F.col("p"))
                / (F.col("n") * F.col("p") * (1.0 - F.col("p")))
            )
            + 1e-9,
            4,
        ).alias("hl_stat"),
        F.round(
            F.max(F.abs(F.col("y") / F.col("n") - F.col("p"))) + 1e-9, 6
        ).alias("max_cell_gap"),
    ).select("g_cells", "df", "hl_stat", "max_cell_gap")


# Shared daily frame from staged_r13 — reusing it keeps the series
# definition identical across both modules.
from ror_etl_spark.queries.staged_r13 import (  # noqa: E402
    _DAILY_SQL,
    _daily_df,
)


# ---------------------------------------------------------------------------
# Deterministic heavy hitters with exact recount
# ---------------------------------------------------------------------------


@staged(
    "misra_gries_heavy_tokens",
    oracle="""
    WITH toks AS (
      SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+',
                    ' ', 'g')), ' ')) AS tok
      FROM documents),
    tot AS (SELECT count(*) AS n FROM toks),
    wc AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok)
    SELECT wc.tok, CAST(wc.c AS BIGINT) AS freq,
           round(wc.c * 1.0 / tot.n + 1e-9, 6) AS share
    FROM wc CROSS JOIN tot
    WHERE wc.c * 200 > tot.n
    ORDER BY wc.c DESC, wc.tok
    """,
)
def misra_gries_heavy_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """phi = 1/200 heavy-hitter tokens via per-partition Misra-Gries
    summaries + an EXACT recount of the merged candidates: each
    partition keeps k = 399 counters (an Arrow kernel over
    mapInPandas), the candidate union is exact-counted with one
    semi-joined aggregate, and only tokens with true freq > N/200
    survive. The MG guarantee — any token above phi·N in the full
    stream survives every partition summary — makes the FINAL output
    exactly the true heavy-hitter set regardless of partition order,
    which is what lets a deterministic oracle exist at all (and is
    the same two-pass candidate->verify shape as the dedup funnels).
    The deterministic counterpart to ``sketch_count_min_heavy_hitters``
    (probabilistic bounds) on the Zipf-skewed token stream.

    Scale shape: the summaries are k-sized per partition (bounded
    driver-side union), the recount is ONE semi-joined aggregate over
    the token stream. No vocabulary-sized shuffle for the candidate
    pass — only candidates are counted exactly."""
    import pandas as pd

    d = Tables(spark, sf_dir).documents
    toks = d.select(
        F.explode(
            F.split(
                F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "
            )
        ).alias("tok")
    )

    def mg(batches):
        counters: dict[str, int] = {}
        k = 399
        for b in batches:
            for tok in b["tok"]:
                if tok in counters:
                    counters[tok] += 1
                elif len(counters) < k:
                    counters[tok] = 1
                else:
                    dead = [w for w in counters if counters[w] == 1]
                    for w in counters:
                        counters[w] -= 1
                    for w in dead:
                        del counters[w]
        yield pd.DataFrame({"tok": list(counters.keys())})

    cand = toks.mapInPandas(mg, schema="tok string").distinct()
    tot = toks.agg(F.count(F.lit(1)).alias("n"))
    counted = (
        toks.join(F.broadcast(cand), "tok")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .crossJoin(F.broadcast(tot))
        .filter(F.col("c") * 200 > F.col("n"))
    )
    return counted.select(
        "tok",
        F.col("c").cast("long").alias("freq"),
        F.round(F.col("c") / F.col("n") + 1e-9, 6).alias("share"),
    ).orderBy(F.desc("freq"), F.asc("tok"))


# ---------------------------------------------------------------------------
# kth-NN distance outliers on the embedding subsample
# ---------------------------------------------------------------------------


@staged(
    "knn_distance_outliers_embeddings",
    oracle="""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id % 2 = 0),
    pairs AS (
      SELECT a.vec_id AS ia, a.label,
             round(sqrt(list_sum(list_transform(
               list_zip(a.v, b.v),
               p -> (p[1] - p[2]) * (p[1] - p[2])))) + 1e-9, 6) AS d
      FROM e a JOIN e b ON a.vec_id <> b.vec_id),
    kth AS (
      SELECT ia, label, d,
             row_number() OVER (PARTITION BY ia ORDER BY d, ia) AS rn
      FROM pairs)
    SELECT CAST(ia AS BIGINT) AS vec_id, label,
           d AS kth_nn_dist
    FROM kth WHERE rn = 5
    ORDER BY d DESC, vec_id LIMIT 10
    """,
)
def knn_distance_outliers_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-10 kth-NN distance outliers (k = 5, Euclidean) on the
    even-id embedding subsample: a point whose 5th-nearest neighbor
    is far sits in a sparse region — the classic distance-based
    outlier definition, the LOCAL complement to
    ``mahalanobis_outlier_customers`` (global ellipsoid): a point
    between two tight planted clusters is Mahalanobis-normal but
    kth-NN-extreme. Distances are quantized to 6 dp BEFORE the rank
    (round-before-rank) with vec_id tiebreaks on both the kth-NN
    selection and the final top-10.

    Scale shape: brute-force on the bounded even-id subsample (the
    registered hubness posture); at scale the same kth-distance
    aggregate consumes LSH/IVF candidate lists instead of the
    crossJoin — the scoring logic is index-agnostic."""
    from ror_etl_spark.functions.vectors import as_double

    emb = Tables(spark, sf_dir).embeddings.filter(F.col("vec_id") % 2 == 0)
    # repartition before the non-equi join — the BNLJ parallelizes over
    # the stream side's partitions (the hubness emb10x tier lesson)
    sub = (
        emb.select(
            "vec_id", "label", as_double(F.col("embedding")).alias("v")
        )
        .repartition(32, "vec_id")
        .localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
    )
    a = sub.select(
        F.col("vec_id").alias("ia"), F.col("label"), F.col("v").alias("va")
    )
    b = sub.select(F.col("vec_id").alias("ib"), F.col("v").alias("vb"))
    sqd = F.aggregate(
        F.zip_with(
            F.col("va"), F.col("vb"), lambda x, y: (x - y) * (x - y)
        ),
        F.lit(0.0),
        lambda acc, z: acc + z,
    )
    pairs = a.join(b, F.col("ia") != F.col("ib")).select(
        "ia", "label", F.round(F.sqrt(sqd) + 1e-9, 6).alias("d")
    )
    wk = Window.partitionBy("ia").orderBy(F.asc("d"), F.asc("ia"))
    kth = (
        pairs.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") == 5)
    )
    return (
        kth.select(
            F.col("ia").cast("long").alias("vec_id"),
            "label",
            F.col("d").alias("kth_nn_dist"),
        )
        .orderBy(F.desc("kth_nn_dist"), F.asc("vec_id"))
        .limit(10)
    )


@staged(
    "isotonic_purchase_rate_by_hour",
    oracle="""
    WITH cells AS (
      SELECT CAST(date_part('hour', ts) AS BIGINT) AS h,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS p
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY 1),
    pairs AS (
      SELECT a.h AS i, b.h AS j,
             sum(c.p) / sum(c.n) AS avg_ij
      FROM cells a
      JOIN cells b ON b.h >= a.h
      JOIN cells c ON c.h BETWEEN a.h AND b.h
      GROUP BY a.h, b.h),
    inner_min AS (
      SELECT t.h, pairs.i, min(pairs.avg_ij) AS mn
      FROM cells t
      JOIN pairs ON pairs.i <= t.h AND pairs.j >= t.h
      GROUP BY t.h, pairs.i),
    fit AS (
      SELECT h, max(mn) AS iso FROM inner_min GROUP BY h)
    SELECT cells.h,
           CAST(cells.n AS BIGINT) AS n,
           round(cells.p / cells.n + 1e-9, 6) AS raw_rate,
           round(fit.iso + 1e-9, 6) AS iso_rate
    FROM cells JOIN fit ON fit.h = cells.h
    ORDER BY cells.h
    """,
)
def isotonic_purchase_rate_by_hour(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weighted isotonic (monotone nondecreasing) regression of the
    purchase rate on hour-of-day via the EXACT minimax identity:
    fitted(t) = max_{i<=t} min_{j>=t} weightedAvg(y[i..j]) — the
    closed form of pool-adjacent-violators, which needs no sequential
    pooling loop and therefore no quantized trajectory: both engines
    evaluate identical pooled-rate rationals (integer purchase and
    event counts divided once). The shape-constrained calibration
    primitive (monotone score->rate maps for the calibration ops;
    'conversion can only grow with exposure' business priors).

    Scale shape: ONE data-sized aggregate to the 24-cell frame; the
    minimax enumerates O(24^3) bounded combinations via two grouped
    joins. Nothing downstream is data-sized."""
    e = Tables(spark, sf_dir).events.filter(
        F.col("event_type").isin("click", "purchase")
    )
    cells = e.groupBy(F.hour("ts").cast("long").alias("h")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("double")
        .alias("p"),
    ).localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
    a = cells.select(F.col("h").alias("i"))
    b = cells.select(F.col("h").alias("j"))
    c = cells.select(F.col("h").alias("hc"), "n", "p")
    pairs = (
        a.join(b, F.col("j") >= F.col("i"))
        .join(
            c,
            (F.col("hc") >= F.col("i")) & (F.col("hc") <= F.col("j")),
        )
        .groupBy("i", "j")
        .agg((F.sum("p") / F.sum("n")).alias("avg_ij"))
    )
    t = cells.select(F.col("h").alias("t"))
    inner_min = (
        t.join(
            pairs,
            (F.col("i") <= F.col("t")) & (F.col("j") >= F.col("t")),
        )
        .groupBy("t", "i")
        .agg(F.min("avg_ij").alias("mn"))
    )
    fit = inner_min.groupBy("t").agg(F.max("mn").alias("iso"))
    return (
        cells.join(fit, cells["h"] == fit["t"])
        .select(
            "h",
            F.col("n").cast("long").alias("n"),
            F.round(F.col("p") / F.col("n") + 1e-9, 6).alias("raw_rate"),
            F.round(F.col("iso") + 1e-9, 6).alias("iso_rate"),
        )
        .orderBy("h")
    )


# ---------------------------------------------------------------------------
# Ordered trend, instrumental variables, multi-rater agreement,
# indirect standardization
# ---------------------------------------------------------------------------


@staged(
    "cochran_armitage_trend_priority",
    oracle="""
    WITH cells AS (
      SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS s,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END)
                  AS DOUBLE) AS r
      FROM orders GROUP BY 1),
    tot AS (
      SELECT sum(n) AS nn, sum(r) AS rr,
             sum(s * n) AS sn, sum(s * s * n) AS ssn,
             sum(s * r) AS sr
      FROM cells),
    st AS (
      SELECT nn, rr,
             sr - sn * rr / nn AS t,
             (rr / nn) * (1.0 - rr / nn) * (ssn - sn * sn / nn) AS v
      FROM tot)
    SELECT CAST(nn AS BIGINT) AS n_orders,
           round(rr / nn + 1e-9, 6) AS p_overall,
           round(t + 1e-9, 4) AS trend_t,
           round(t / sqrt(v) + 1e-9, 4) AS z_stat,
           round(t * t / v + 1e-9, 4) AS chi2_trend
    FROM st
    """,
)
def cochran_armitage_trend_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cochran-Armitage trend test: does the proportion of high-value
    orders (> 150k) trend MONOTONICALLY across the ordered priorities
    (scores 1..5 from the priority prefix)? T = sum s_i(r_i - n_i R/N)
    with variance p(1-p)(sum s_i^2 n_i - (sum s_i n_i)^2/N); z = T/
    sqrt(V), chi2 = z^2 on 1 df. The ORDERED-alternative complement to
    the unordered ``chi_square_priority_status`` (which burns 4 df on
    any deviation) and the proportions analogue of
    ``jonckheere_trend_priority`` (rank-based, means).

    Scale shape: ONE grouped conditional aggregate to the 5-score
    frame; everything after is scalar algebra."""
    o = Tables(spark, sf_dir).orders
    cells = o.groupBy(
        F.substring("o_orderpriority", 1, 1).cast("long").alias("s")
    ).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.when(F.col("o_totalprice") > 150000, 1).otherwise(0))
        .cast("double")
        .alias("r"),
    )
    tot = cells.agg(
        F.sum("n").alias("nn"),
        F.sum("r").alias("rr"),
        F.sum(F.col("s") * F.col("n")).alias("sn"),
        F.sum(F.col("s") * F.col("s") * F.col("n")).alias("ssn"),
        F.sum(F.col("s") * F.col("r")).alias("sr"),
    )
    t = F.col("sr") - F.col("sn") * F.col("rr") / F.col("nn")
    v = (
        (F.col("rr") / F.col("nn"))
        * (1.0 - F.col("rr") / F.col("nn"))
        * (F.col("ssn") - F.col("sn") * F.col("sn") / F.col("nn"))
    )
    return tot.select(
        F.col("nn").cast("long").alias("n_orders"),
        F.round(F.col("rr") / F.col("nn") + 1e-9, 6).alias("p_overall"),
        F.round(t + 1e-9, 4).alias("trend_t"),
        F.round(t / F.sqrt(v) + 1e-9, 4).alias("z_stat"),
        F.round(t * t / v + 1e-9, 4).alias("chi2_trend"),
    )


@staged(
    "iv_wald_orderkey_items_revenue",
    oracle="""
    WITH base AS (
      SELECT CAST(o.o_orderkey % 2 AS DOUBLE) AS z,
             CAST(count(l.l_orderkey) AS DOUBLE) AS x,
             max(o.o_totalprice) AS y
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey),
    mo AS (
      SELECT count(*) AS n,
             sum(z) AS sz, sum(x) AS sx, sum(y) AS sy,
             sum(z * z) AS szz, sum(x * x) AS sxx,
             sum(z * x) AS szx, sum(z * y) AS szy, sum(x * y) AS sxy
      FROM base),
    cm AS (
      SELECT n,
             szz - sz * sz / n AS czz,
             sxx - sx * sx / n AS cxx,
             szx - sz * sx / n AS czx,
             szy - sz * sy / n AS czy,
             sxy - sx * sy / n AS cxy
      FROM mo)
    SELECT CAST(n AS BIGINT) AS n_orders,
           round(czy / czx + 1e-9, 4) AS beta_iv,
           round(cxy / cxx + 1e-9, 4) AS beta_ols,
           round(czx / czz + 1e-9, 6) AS first_stage_slope,
           round((czx * czx / (czz * cxx)) * (n - 2.0)
                 / (1.0 - czx * czx / (czz * cxx)) + 1e-9, 4)
             AS first_stage_f
    FROM cm
    """,
)
def iv_wald_orderkey_items_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Single-instrument Wald/2SLS estimate: instrument z = orderkey
    parity ('as-if random assignment'), endogenous regressor x = item
    count, outcome y = order revenue: beta_IV = cov(z,y)/cov(z,x),
    reported against the naive OLS slope and with the first-stage
    slope and F statistic (the weak-instrument diagnostic — F below
    ~10 says the parity instrument barely moves x, which on this
    synthetic data is exactly what an honest IV report should show).
    Adds instruments to the causal-identification toolbox beside
    confounder adjustment (IPTW), discontinuities (RDD) and time
    (DiD/ITS).

    Scale shape: one join-aggregate per order, ONE nine-sum co-moment
    aggregate, scalar algebra."""
    t = Tables(spark, sf_dir)
    base = (
        t.orders.join(
            t.lineitem, F.col("l_orderkey") == F.col("o_orderkey")
        )
        .groupBy("o_orderkey")
        .agg(
            F.count("l_orderkey").cast("double").alias("x"),
            F.max("o_totalprice").alias("y"),
        )
        .select(
            (F.col("o_orderkey") % 2).cast("double").alias("z"), "x", "y"
        )
    )
    mo = base.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("z").alias("sz"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("z") * F.col("z")).alias("szz"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("z") * F.col("x")).alias("szx"),
        F.sum(F.col("z") * F.col("y")).alias("szy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n")
    cm = mo.select(
        n,
        (F.col("szz") - F.col("sz") * F.col("sz") / n).alias("czz"),
        (F.col("sxx") - F.col("sx") * F.col("sx") / n).alias("cxx"),
        (F.col("szx") - F.col("sz") * F.col("sx") / n).alias("czx"),
        (F.col("szy") - F.col("sz") * F.col("sy") / n).alias("czy"),
        (F.col("sxy") - F.col("sx") * F.col("sy") / n).alias("cxy"),
    )
    r2 = F.col("czx") * F.col("czx") / (F.col("czz") * F.col("cxx"))
    return cm.select(
        n.cast("long").alias("n_orders"),
        F.round(F.col("czy") / F.col("czx") + 1e-9, 4).alias("beta_iv"),
        F.round(F.col("cxy") / F.col("cxx") + 1e-9, 4).alias("beta_ols"),
        F.round(F.col("czx") / F.col("czz") + 1e-9, 6).alias(
            "first_stage_slope"
        ),
        F.round(r2 * (n - 2.0) / (1.0 - r2) + 1e-9, 4).alias(
            "first_stage_f"
        ),
    )


@staged(
    "fleiss_kappa_first_events",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events),
    first5 AS (SELECT * FROM ranked WHERE rn <= 5),
    eligible AS (
      SELECT user_id FROM first5 GROUP BY user_id HAVING count(*) = 5),
    cnt AS (
      SELECT f.user_id, f.event_type, CAST(count(*) AS DOUBLE) AS c
      FROM first5 f JOIN eligible e ON e.user_id = f.user_id
      GROUP BY f.user_id, f.event_type),
    pi AS (
      SELECT user_id, (sum(c * c) - 5.0) / (5.0 * 4.0) AS p_i
      FROM cnt GROUP BY user_id),
    pbar AS (SELECT avg(p_i) AS pb, count(*) AS n_items FROM pi),
    pc AS (
      SELECT sum(csum * csum) AS pe FROM (
        SELECT event_type,
               sum(c) / (SELECT 5.0 * count(*) FROM eligible) AS csum
        FROM cnt GROUP BY event_type))
    SELECT CAST(pbar.n_items AS BIGINT) AS n_users,
           round(pbar.pb + 1e-9, 6) AS p_observed,
           round(pc.pe + 1e-9, 6) AS p_expected,
           round((pbar.pb - pc.pe) / (1.0 - pc.pe) + 1e-9, 6)
             AS fleiss_kappa
    FROM pbar CROSS JOIN pc
    """,
)
def fleiss_kappa_first_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fleiss' kappa over each user's FIRST FIVE events (items =
    users with >= 5 events, raters = the five event slots, categories
    = event types): P_i = (sum_c n_ic^2 - n)/(n(n-1)), kappa =
    (P_bar - P_e)/(1 - P_e). Near-zero kappa says a user's early
    events are exchangeable draws from the type mix; high kappa says
    users specialize from the start — the multi-rater generalization
    of ``cohens_kappa_lang_id`` (two raters) and the agreement
    counterpart of ``user_event_entropy_topk``. The first-5 slots use
    a (ts, event_id) total order.

    Scale shape: one user-partitioned ranking window (the sessionize
    posture), then user-and-type-keyed aggregates — all partial-agg
    friendly, bounded output."""
    e = Tables(spark, sf_dir).events
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first5 = (
        e.select(
            "user_id", "event_type", F.row_number().over(wu).alias("rn")
        )
        .filter(F.col("rn") <= 5)
        .localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
    )
    eligible = (
        first5.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c5"))
        .filter(F.col("c5") == 5)
        .select("user_id")
    )
    cnt = (
        first5.join(eligible, "user_id")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    pi = cnt.groupBy("user_id").agg(
        ((F.sum(F.col("c") * F.col("c")) - 5.0) / 20.0).alias("p_i")
    )
    pbar = pi.agg(
        F.avg("p_i").alias("pb"), F.count(F.lit(1)).alias("n_items")
    )
    tot = pbar.select((5.0 * F.col("n_items")).alias("tot5"))
    pc = (
        cnt.groupBy("event_type")
        .agg(F.sum("c").alias("tc"))
        .crossJoin(F.broadcast(tot))
        .select((F.col("tc") / F.col("tot5")).alias("csum"))
        .agg(F.sum(F.col("csum") * F.col("csum")).alias("pe"))
    )
    return pbar.crossJoin(F.broadcast(pc)).select(
        F.col("n_items").cast("long").alias("n_users"),
        F.round(F.col("pb") + 1e-9, 6).alias("p_observed"),
        F.round(F.col("pe") + 1e-9, 6).alias("p_expected"),
        F.round(
            (F.col("pb") - F.col("pe")) / (1.0 - F.col("pe")) + 1e-9, 6
        ).alias("fleiss_kappa"),
    )


@staged(
    "smr_indirect_standardization_asia",
    oracle="""
    WITH base AS (
      SELECT c.c_mktsegment AS seg,
             CASE WHEN n.n_regionkey = 2 THEN 1 ELSE 0 END AS study,
             CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1.0
                  ELSE 0.0 END AS ev
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey),
    ref AS (
      SELECT seg, sum(ev) / count(*) AS rate FROM base GROUP BY seg),
    study AS (
      SELECT b.seg, CAST(count(*) AS DOUBLE) AS n,
             sum(b.ev) AS obs
      FROM base b WHERE b.study = 1 GROUP BY b.seg),
    agg AS (
      SELECT sum(s.obs) AS observed,
             sum(s.n * r.rate) AS expected,
             CAST(sum(s.n) AS BIGINT) AS n_study
      FROM study s JOIN ref r ON r.seg = s.seg)
    SELECT n_study,
           CAST(observed AS BIGINT) AS observed_urgent,
           round(expected + 1e-9, 4) AS expected_urgent,
           round(observed / expected + 1e-9, 6) AS smr,
           round(exp(ln(observed / expected)
                     - 1.96 / sqrt(observed)) + 1e-9, 6) AS smr_lo,
           round(exp(ln(observed / expected)
                     + 1.96 / sqrt(observed)) + 1e-9, 6) AS smr_hi
    FROM agg
    """,
)
def smr_indirect_standardization_asia(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Standardized morbidity/mortality-ratio machinery applied to
    order urgency: is the ASIA region's urgent-order rate higher than
    the whole population's, AFTER adjusting for market-segment mix?
    Expected = sum over segments of (ASIA orders in segment) x
    (population urgent rate of that segment); SMR = O/E with the
    log-normal approximate CI exp(ln SMR +/- 1.96/sqrt(O)). The
    indirect-standardization primitive (epidemiology's workhorse for
    small-area comparison) — the rate-adjusted complement to
    ``simpson_paradox_screen``, which detects the mix confounding
    this op corrects.

    Scale shape: one three-way join scan feeding two bounded grouped
    aggregates (segment domain); scalar algebra after."""
    t = Tables(spark, sf_dir)
    base = (
        t.orders.join(
            t.customer, F.col("o_custkey") == F.col("c_custkey")
        )
        .join(t.nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.when(F.col("n_regionkey") == 2, 1).otherwise(0).alias("study"),
            F.when(F.col("o_orderpriority") == "1-URGENT", 1.0)
            .otherwise(0.0)
            .alias("ev"),
        )
        .localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
    )
    ref = base.groupBy("seg").agg(
        (F.sum("ev") / F.count(F.lit(1))).alias("rate")
    )
    study = (
        base.filter(F.col("study") == 1)
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("ev").alias("obs"),
        )
    )
    agg = study.join(F.broadcast(ref), "seg").agg(
        F.sum("obs").alias("observed"),
        F.sum(F.col("n") * F.col("rate")).alias("expected"),
        F.sum("n").cast("long").alias("n_study"),
    )
    smr = F.col("observed") / F.col("expected")
    return agg.select(
        "n_study",
        F.col("observed").cast("long").alias("observed_urgent"),
        F.round(F.col("expected") + 1e-9, 4).alias("expected_urgent"),
        F.round(smr + 1e-9, 6).alias("smr"),
        F.round(
            F.exp(F.log(smr) - 1.96 / F.sqrt(F.col("observed"))) + 1e-9, 6
        ).alias("smr_lo"),
        F.round(
            F.exp(F.log(smr) + 1.96 / F.sqrt(F.col("observed"))) + 1e-9, 6
        ).alias("smr_hi"),
    )


# Shared sparsified trade graph (r12 re-base builders)
from ror_etl_spark.queries.staged_r11 import (  # noqa: E402
    _TRADE_EDGE_CTES as _TG_CTES,
    _trade_edges as _tg_edges,
)

_SSSP_ROUNDS = 6


def _sssp_oracle() -> str:
    ctes = [
        _TG_CTES.strip(),
        """src AS (SELECT n AS s FROM deg ORDER BY d DESC, n LIMIT 1)""",
        """wedge AS (SELECT u, v, 1.0 / w AS c FROM und)""",
        """d0 AS (
      SELECT deg.n AS id,
             CASE WHEN deg.n = src.s THEN 0.0 ELSE 1e18 END AS dist
      FROM deg CROSS JOIN src)""",
    ]
    for k in range(_SSSP_ROUNDS):
        ctes.append(
            f"""r{k} AS (
      SELECT wedge.v AS id, min(d{k}.dist + wedge.c) AS nd
      FROM wedge JOIN d{k} ON d{k}.id = wedge.u
      WHERE d{k}.dist < 1e17 GROUP BY wedge.v)"""
        )
        ctes.append(
            f"""d{k + 1} AS (
      SELECT d{k}.id, least(d{k}.dist, coalesce(r{k}.nd, 1e18)) AS dist
      FROM d{k} LEFT JOIN r{k} ON r{k}.id = d{k}.id)"""
        )
    fin = f"d{_SSSP_ROUNDS}"
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT CAST({fin}.id AS BIGINT) AS nationkey,
           round({fin}.dist + 1e-9, 6) AS cost_dist,
           CAST({fin}.id = src.s AS BOOLEAN) AS is_source
    FROM {fin} CROSS JOIN src WHERE {fin}.dist < 1e17
    ORDER BY round({fin}.dist + 1e-9, 6) DESC, {fin}.id LIMIT 10
    """


@staged("weighted_sssp_trade", oracle=_sssp_oracle())
def weighted_sssp_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths on the sparsified trade
    graph with edge cost 1/weight (heavier trade = shorter distance):
    6 synchronous Bellman-Ford relaxation rounds from the max-degree
    nation — the weighted upgrade of ``harmonic_centrality_trade``'s
    unweighted min-plus, and exactly how SSSP runs on a cluster (a
    delta-stepping/Bellman-Ford round is one edge-join + min-combine
    shuffle; Dijkstra's priority queue does not distribute). Costs
    1/w are exact IEEE divisions of integer weights, so min-plus runs
    on identical doubles in both engines; top-10 FARTHEST reachable
    nations with round-before-rank ordering.

    Scale shape: one fact-scan edge derivation; each round is one
    join of the node-sized distance frame against the edge list."""
    _, und, deg = _tg_edges(Tables(spark, sf_dir))
    deg = deg.localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
    src = deg.orderBy(F.desc("d"), F.asc("n")).limit(1).select(
        F.col("n").alias("s")
    )
    wedge = und.select(
        "u", "v", (F.lit(1.0) / F.col("w")).alias("c")
    ).localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
    dist = deg.crossJoin(F.broadcast(src)).select(
        F.col("n").alias("id"),
        F.when(F.col("n") == F.col("s"), 0.0).otherwise(1e18).alias("dist"),
    )
    for _ in range(_SSSP_ROUNDS):
        relax = (
            wedge.join(dist.withColumnRenamed("id", "u"), "u")
            .filter(F.col("dist") < 1e17)
            .groupBy(F.col("v").alias("id"))
            .agg(F.min(F.col("dist") + F.col("c")).alias("nd"))
        )
        dist = (
            dist.join(relax.withColumnRenamed("id", "rid"),
                      dist["id"] == F.col("rid"), "left")
            .select(
                "id",
                F.least(
                    F.col("dist"),
                    F.coalesce(F.col("nd"), F.lit(1e18)),
                ).alias("dist"),
            )
            .localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
        )
    return (
        dist.filter(F.col("dist") < 1e17)
        .crossJoin(F.broadcast(src))
        .select(
            F.col("id").cast("long").alias("nationkey"),
            F.round(F.col("dist") + 1e-9, 6).alias("cost_dist"),
            (F.col("id") == F.col("s")).alias("is_source"),
        )
        .orderBy(F.desc("cost_dist"), F.asc("nationkey"))
        .limit(10)
    )


def _mst_oracle() -> str:
    return f"""
    WITH RECURSIVE {_TG_CTES.strip()},
    se AS (
      SELECT a, b, w, row_number() OVER (ORDER BY w DESC, a, b) AS k
      FROM e0),
    nn AS (SELECT max(k) AS n FROM se),
    st (k, labs, acc, aa, bb, ww) AS (
      SELECT CAST(0 AS BIGINT),
             list_transform(range(0, 25), i -> CAST(i AS BIGINT)),
             FALSE, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
             CAST(NULL AS BIGINT)
      UNION ALL
      SELECT se.k,
             CASE WHEN st.labs[se.a + 1] <> st.labs[se.b + 1]
                  THEN list_transform(st.labs,
                    x -> CASE WHEN x = greatest(st.labs[se.a + 1],
                                                st.labs[se.b + 1])
                              THEN least(st.labs[se.a + 1],
                                         st.labs[se.b + 1])
                              ELSE x END)
                  ELSE st.labs END,
             st.labs[se.a + 1] <> st.labs[se.b + 1],
             se.a, se.b, se.w
      FROM st JOIN se ON se.k = st.k + 1),
    mst AS (
      SELECT aa AS a, bb AS b, ww AS w FROM st WHERE acc),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_edges,
             CAST(sum(w) AS BIGINT) AS total_weight
      FROM mst)
    SELECT CAST(mst.a AS BIGINT) AS a, CAST(mst.b AS BIGINT) AS b,
           CAST(mst.w AS BIGINT) AS w,
           tot.n_edges, tot.total_weight
    FROM mst CROSS JOIN tot
    ORDER BY mst.w DESC, mst.a, mst.b
    """


@staged("mst_kruskal_trade_backbone", oracle=_mst_oracle())
def mst_kruskal_trade_backbone(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MAXIMUM-weight spanning tree of the sparsified trade graph —
    the 'trade backbone': the lightest set of relationships that still
    connects every nation, preferring the heaviest flows. Exact
    Kruskal replay over the (w DESC, a, b)-sorted 90-edge list with
    union-find labels; all weights are integer trade counts, so both
    engines walk identical decisions (the oracle carries the 25-slot
    label list through a recursive CTE, a state-vector trick). At data
    scale the graph DERIVATION is the only data-sized pass (the
    family's standard posture); on a
    graph too large for this replay, the distributed algorithm is
    Boruvka rounds (per-component best edge + hash-min merge), which
    the CC/LPA kernels already demonstrate at 1e9 edges.

    Output: the backbone edges with the forest size and total carried
    weight."""
    import pandas as pd

    e0, _, _ = _tg_edges(Tables(spark, sf_dir))
    se = e0.orderBy(F.desc("w"), F.asc("a"), F.asc("b"))

    def kernel(batches):
        rows = pd.concat(list(batches), ignore_index=True)
        rows = rows.sort_values(
            ["w", "a", "b"], ascending=[False, True, True]
        )
        labs = list(range(25))
        acc = []
        for r in rows.itertuples(index=False):
            la, lb = labs[int(r.a)], labs[int(r.b)]
            if la != lb:
                lo, hi = min(la, lb), max(la, lb)
                labs = [lo if x == hi else x for x in labs]
                acc.append((int(r.a), int(r.b), int(r.w)))
        tot = sum(w for _, _, w in acc)
        yield pd.DataFrame(
            {
                "a": pd.Series([e[0] for e in acc], dtype="int64"),
                "b": pd.Series([e[1] for e in acc], dtype="int64"),
                "w": pd.Series([e[2] for e in acc], dtype="int64"),
                "n_edges": pd.Series([len(acc)] * len(acc), dtype="int64"),
                "total_weight": pd.Series([tot] * len(acc), dtype="int64"),
            }
        )

    schema = "a long, b long, w long, n_edges long, total_weight long"
    return (
        se.coalesce(1)
        .mapInPandas(kernel, schema=schema)
        .orderBy(F.desc("w"), F.asc("a"), F.asc("b"))
    )


# ---------------------------------------------------------------------------
# Zero-inflated counts, lexical diversity, rank shift, Katz, Taylor's law
# ---------------------------------------------------------------------------


@staged(
    "zero_inflated_poisson_errors",
    oracle="""
    WITH grid AS (
      SELECT u.user_id, d.d FROM
      (SELECT DISTINCT user_id FROM events) u
      CROSS JOIN
      (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events) d),
    cnt AS (
      SELECT user_id, CAST(ts AS DATE) AS d, count(*) AS c
      FROM events WHERE event_type = 'error' GROUP BY 1, 2),
    cells AS (
      SELECT CAST(coalesce(cnt.c, 0) AS DOUBLE) AS c
      FROM grid LEFT JOIN cnt
      ON cnt.user_id = grid.user_id AND cnt.d = grid.d),
    mo AS (
      SELECT count(*) AS n, avg(c) AS m, var_pop(c) AS v,
             avg(CASE WHEN c = 0 THEN 1.0 ELSE 0 END) AS p0
      FROM cells),
    fit AS (
      SELECT n, m, v, p0,
             m + v / m - 1.0 AS lam,
             CASE WHEN m + v / m - 1.0 > 0
                  THEN 1.0 - m / (m + v / m - 1.0) END AS pi
      FROM mo)
    SELECT CAST(n AS BIGINT) AS n_cells,
           round(m + 1e-9, 6) AS mean_count,
           round(v / m + 1e-9, 6) AS dispersion,
           round(p0 + 1e-9, 6) AS zero_share,
           round(lam + 1e-9, 6) AS zip_lambda,
           round(pi + 1e-9, 6) AS zip_pi,
           round(CASE WHEN pi IS NOT NULL
                      THEN pi + (1.0 - pi) * exp(-lam) END + 1e-9, 6)
             AS zip_p0_implied
    FROM fit
    """,
)
def zero_inflated_poisson_errors(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Zero-inflated Poisson fit of per-(user, day) ERROR counts by
    method of moments over the FULL user x day grid (implicit zeros
    materialized from the cross of domains): lambda = m + v/m - 1,
    pi = 1 - m/lambda, with the implied zero mass pi + (1-pi)e^-lambda
    reported against the observed zero share — the structural-zeros
    complement to ``negbin_overdispersion_events`` (which explains
    extra variance by heterogeneity; ZIP explains it by a
    never-at-risk class). The gap between implied and observed zeros
    is the model-choice diagnostic.

    Scale shape: one data-sized count aggregate + a domain cross for
    the grid (users x ~30 days; at 100 TB the zero cells never need
    materializing — the same sufficient-statistics trick as
    ``cronbach_alpha_event_types`` applies, kept explicit here for
    oracle clarity on the bounded day domain)."""
    e = Tables(spark, sf_dir).events
    users = e.select("user_id").distinct()
    days = e.select(F.col("ts").cast("date").alias("d")).distinct()
    cnt = (
        e.filter(F.col("event_type") == "error")
        .groupBy("user_id", F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cells = (
        users.crossJoin(days)
        .join(cnt, ["user_id", "d"], "left")
        .select(F.coalesce(F.col("c"), F.lit(0)).cast("double").alias("c"))
    )
    mo = cells.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg("c").alias("m"),
        F.var_pop("c").alias("v"),
        F.avg(F.when(F.col("c") == 0, 1.0).otherwise(0.0)).alias("p0"),
    )
    lam = F.col("m") + F.col("v") / F.col("m") - 1.0
    pi = F.when(lam > 0, 1.0 - F.col("m") / lam)
    return mo.select(
        F.col("n").alias("n_cells"),
        F.round(F.col("m") + 1e-9, 6).alias("mean_count"),
        F.round(F.col("v") / F.col("m") + 1e-9, 6).alias("dispersion"),
        F.round(F.col("p0") + 1e-9, 6).alias("zero_share"),
        F.round(lam + 1e-9, 6).alias("zip_lambda"),
        F.round(pi + 1e-9, 6).alias("zip_pi"),
        F.round(
            F.when(
                pi.isNotNull(), pi + (1.0 - pi) * F.exp(-lam)
            )
            + 1e-9,
            6,
        ).alias("zip_p0_implied"),
    )


@staged(
    "yule_k_lexical_diversity",
    oracle="""
    WITH toks AS (
      SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+',
                    ' ', 'g')), ' ')) AS tok
      FROM documents),
    wc AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    ag AS (
      SELECT CAST(count(*) AS DOUBLE) AS v,
             CAST(sum(c) AS DOUBLE) AS n,
             CAST(sum(c * c) AS DOUBLE) AS s2,
             CAST(sum(c * (c - 1)) AS DOUBLE) AS srep
      FROM wc)
    SELECT CAST(v AS BIGINT) AS s_types,
           CAST(n AS BIGINT) AS n_tokens,
           round(10000.0 * (s2 - n) / (n * n) + 1e-9, 6) AS yule_k,
           round(srep / (n * (n - 1.0)) + 1e-12, 8) AS simpson_repeat,
           round(ln(v) / ln(n) + 1e-9, 6) AS herdan_c
    FROM ag
    """,
)
def yule_k_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule's characteristic K = 10^4 (sum m^2 V_m - N) / N^2, the
    repeat-rate Simpson index sum f(f-1)/(N(N-1)), and Herdan's C =
    ln V / ln N over the corpus token-frequency spectrum — the
    length-robust lexical-diversity triple completing the vocabulary
    family (``chao1_vocab_richness`` estimates unseen types,
    ``heaps_law_vocab_fit`` the growth curve; these measure
    concentration of the SEEN mass). Same whitespace tokenization as
    both siblings.

    Scale shape: token explode -> vocabulary-keyed count -> one scalar
    aggregate consuming counts directly (sum c^2 and sum c(c-1) need
    no frequency-of-frequencies materialization). Two partial-agg
    shuffles; single-row output."""
    d = Tables(spark, sf_dir).documents
    toks = d.select(
        F.explode(
            F.split(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " ")
        ).alias("tok")
    )
    wc = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    c = F.col("c").cast("double")
    ag = wc.agg(
        F.count(F.lit(1)).cast("double").alias("v"),
        F.sum(c).alias("n"),
        F.sum(c * c).alias("s2"),
        F.sum(c * (c - 1.0)).alias("srep"),
    )
    v, nn, s2, srep = F.col("v"), F.col("n"), F.col("s2"), F.col("srep")
    return ag.select(
        v.cast("long").alias("s_types"),
        nn.cast("long").alias("n_tokens"),
        F.round(10000.0 * (s2 - nn) / (nn * nn) + 1e-9, 6).alias("yule_k"),
        F.round(srep / (nn * (nn - 1.0)) + 1e-12, 8).alias("simpson_repeat"),
        F.round(F.log(v) / F.log(nn) + 1e-9, 6).alias("herdan_c"),
    )


@staged(
    "hodges_lehmann_weekend_shift",
    oracle=f"""
    WITH {_DAILY_SQL},
    dq AS (
      SELECT t, round(y + 1e-9, 4) AS y,
             ((t % 7) + 7) % 7 IN (5, 6) AS wknd
      FROM daily),
    wd AS (SELECT y FROM dq WHERE NOT wknd),
    we AS (SELECT y FROM dq WHERE wknd),
    pairs AS (
      SELECT wd.y - we.y AS diff FROM wd CROSS JOIN we),
    ps AS (
      SELECT CAST(count(*) AS BIGINT) AS n_pairs,
             quantile_cont(diff, 0.5) AS hl,
             avg(CASE WHEN diff > 0 THEN 1.0
                      WHEN diff = 0 THEN 0.5 ELSE 0.0 END) AS sup
      FROM pairs),
    gm AS (
      SELECT CAST(sum(CASE WHEN NOT wknd THEN 1 ELSE 0 END) AS BIGINT)
               AS n_weekday_days,
             CAST(sum(CASE WHEN wknd THEN 1 ELSE 0 END) AS BIGINT)
               AS n_weekend_days,
             quantile_cont(CASE WHEN NOT wknd THEN y END, 0.5) AS mwd,
             quantile_cont(CASE WHEN wknd THEN y END, 0.5) AS mwe
      FROM dq)
    SELECT gm.n_weekday_days, gm.n_weekend_days, ps.n_pairs,
           round(ps.hl + 1e-9, 6) AS hl_shift,
           round(ps.sup + 1e-9, 6) AS p_superiority,
           round(gm.mwd + 1e-9, 6) AS median_weekday,
           round(gm.mwe + 1e-9, 6) AS median_weekend
    FROM ps CROSS JOIN gm
    """,
)
def hodges_lehmann_weekend_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann estimator of the weekday-vs-weekend daily-revenue
    location shift: the median of ALL pairwise differences y_weekday -
    y_weekend (the estimator dual to the Mann-Whitney test — robust to
    outlier days where the mean difference is not), plus the
    probability of superiority P(weekday > weekend) with the 1/2-tie
    convention, and the two group medians. Weekend membership comes
    from the day index ((t % 7)+7) % 7 in {{5, 6}} (2024-01-01 is a
    Monday) — identical arithmetic both engines, no locale-dependent
    dayofweek.

    Scale shape: the pairwise cross runs on the DOMAIN-bounded daily
    frame (|weekday days| x |weekend days| ~ 2.6e2 x 1e2 pairs at any
    SF — the date span, not the data, sets it), after one data-sized
    groupBy. Daily sums are quantized to 4 dp BEFORE pairing
    (selection statistics need quantized inputs, since an ulp of cross-engine sum drift at a median boundary would swap
    the selected element, not just its 7th decimal)."""
    daily = _daily_df(spark, sf_dir).select(
        "t",
        F.round(F.col("y") + 1e-9, 4).alias("y"),
        (((F.col("t") % 7) + 7) % 7).isin(5, 6).alias("wknd"),
    )
    wd = daily.filter(~F.col("wknd")).select(F.col("y").alias("yw"))
    we = daily.filter(F.col("wknd")).select(F.col("y").alias("ye"))
    diff = F.col("yw") - F.col("ye")
    ps = (
        wd.crossJoin(F.broadcast(we))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.percentile(diff, F.lit(0.5)).alias("hl"),
            F.avg(
                F.when(diff > 0, 1.0).when(diff == 0, 0.5).otherwise(0.0)
            ).alias("sup"),
        )
    )
    gm = daily.agg(
        F.sum(F.when(~F.col("wknd"), 1).otherwise(0))
        .cast("long")
        .alias("n_weekday_days"),
        F.sum(F.when(F.col("wknd"), 1).otherwise(0))
        .cast("long")
        .alias("n_weekend_days"),
        F.percentile(F.when(~F.col("wknd"), F.col("y")), F.lit(0.5)).alias(
            "mwd"
        ),
        F.percentile(F.when(F.col("wknd"), F.col("y")), F.lit(0.5)).alias(
            "mwe"
        ),
    )
    return ps.crossJoin(F.broadcast(gm)).select(
        "n_weekday_days",
        "n_weekend_days",
        "n_pairs",
        F.round(F.col("hl") + 1e-9, 6).alias("hl_shift"),
        F.round(F.col("sup") + 1e-9, 6).alias("p_superiority"),
        F.round(F.col("mwd") + 1e-9, 6).alias("median_weekday"),
        F.round(F.col("mwe") + 1e-9, 6).alias("median_weekend"),
    )


_KATZ_ROUNDS = 6
_KATZ_ALPHA = 0.05


def _katz_oracle() -> str:
    ctes = [
        _TG_CTES.strip(),
        """x0 AS (SELECT deg.n AS id, 1.0 AS x FROM deg)""",
    ]
    for k in range(_KATZ_ROUNDS):
        ctes.append(
            f"""s{k} AS (
      SELECT und.v AS id, sum(x{k}.x) AS s
      FROM und JOIN x{k} ON x{k}.id = und.u GROUP BY und.v)"""
        )
        ctes.append(
            f"""x{k + 1} AS (
      SELECT x{k}.id,
             round(1.0 + {_KATZ_ALPHA} * coalesce(s{k}.s, 0.0) + 1e-12, 8)
               AS x
      FROM x{k} LEFT JOIN s{k} ON s{k}.id = x{k}.id)"""
        )
    fin = f"x{_KATZ_ROUNDS}"
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined},
    tot AS (SELECT sum(x) AS sx FROM {fin})
    SELECT CAST({fin}.id AS BIGINT) AS nationkey,
           round({fin}.x + 1e-9, 6) AS katz,
           round({fin}.x / tot.sx + 1e-9, 6) AS katz_share,
           CAST(row_number() OVER (ORDER BY {fin}.x DESC, {fin}.id)
                AS BIGINT) AS rnk
    FROM {fin} CROSS JOIN tot
    ORDER BY rnk LIMIT 10
    """


@staged("katz_centrality_trade", oracle=_katz_oracle())
def katz_centrality_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality on the sparsified trade graph: x <- 1 + alpha
    A x, alpha = 0.05 (safely below 1/lambda_max for the top-90 graph,
    whose max degree caps lambda_max well under 20), 6 synchronous
    Jacobi rounds from x = 1 — the attenuated-walk-count complement to
    ``pagerank_nation_trade`` (no stochastic normalization: hubs
    accumulate walk mass rather than splitting it) and to
    ``hits_nation_trade`` (undirected, single score). Per-round scores
    are quantized to 8 dp so both engines iterate identical
    trajectories; top 10 with (score DESC, id) tiebreak.

    Scale shape: each round is one edge-join + node-keyed sum — the
    canonical one-shuffle-per-iteration kernel that runs at any graph
    size; node state is node-sized, never edge-sized. On the bounded
    25-node instance every join broadcasts."""
    t = Tables(spark, sf_dir)
    _e0, und, deg = _tg_edges(t)
    x = deg.select(F.col("n").alias("id"), F.lit(1.0).alias("x"))
    for _ in range(_KATZ_ROUNDS):
        s = (
            und.join(F.broadcast(x), und["u"] == x["id"])
            .groupBy(F.col("v").alias("sid"))
            .agg(F.sum("x").alias("s"))
        )
        x = (
            x.join(F.broadcast(s), x["id"] == s["sid"], "left")
            .select(
                "id",
                F.round(
                    1.0
                    + _KATZ_ALPHA * F.coalesce(F.col("s"), F.lit(0.0))
                    + 1e-12,
                    8,
                ).alias("x"),
            )
        )
    tot = x.agg(F.sum("x").alias("sx"))
    return (
        x.crossJoin(F.broadcast(tot))
        .select(
            F.col("id").cast("long").alias("nationkey"),
            F.round(F.col("x") + 1e-9, 6).alias("katz"),
            F.round(F.col("x") / F.col("sx") + 1e-9, 6).alias("katz_share"),
            F.row_number()
            .over(Window.orderBy(F.desc("x"), F.asc("id")))
            .cast("long")
            .alias("rnk"),
        )
        .orderBy("rnk")
        .limit(10)
    )


@staged(
    "taylor_power_law_users",
    oracle="""
    WITH dd AS (
      SELECT CAST(count(DISTINCT CAST(ts AS DATE)) AS DOUBLE) AS nd
      FROM events),
    uc AS (
      SELECT user_id, CAST(ts AS DATE) AS d,
             CAST(count(*) AS DOUBLE) AS c
      FROM events GROUP BY 1, 2),
    us AS (
      SELECT user_id, sum(c) AS s1, sum(c * c) AS s2
      FROM uc GROUP BY user_id),
    mv AS (
      SELECT user_id, s1 / dd.nd AS m,
             s2 / dd.nd - (s1 / dd.nd) * (s1 / dd.nd) AS v
      FROM us CROSS JOIN dd),
    lg AS (
      SELECT ln(m) AS x, ln(v) AS y FROM mv WHERE v > 0 AND m > 0),
    fit AS (
      SELECT CAST(count(*) AS BIGINT) AS n_users,
             covar_pop(x, y) / var_pop(x) AS b,
             avg(y) - covar_pop(x, y) / var_pop(x) * avg(x) AS a,
             covar_pop(x, y) * covar_pop(x, y)
               / (var_pop(x) * var_pop(y)) AS r2
      FROM lg)
    SELECT fit.n_users,
           CAST(dd.nd AS BIGINT) AS n_days,
           round(fit.b + 1e-9, 6) AS taylor_slope,
           round(fit.a + 1e-9, 6) AS taylor_intercept,
           round(fit.r2 + 1e-9, 6) AS r2
    FROM fit CROSS JOIN dd
    """,
)
def taylor_power_law_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Taylor's law (fluctuation scaling) across users: each user's
    per-day event-count mean and variance over the FULL day domain
    (structural zero days enter through sufficient statistics — s1,
    s2 over observed days divided by the global day count, so the
    zero cells are never materialized), then the OLS slope of
    ln var on ln mean. Slope 1 = Poisson-like users, slope 2 =
    proportional bursts; ecology/ops' classic aggregation-invariant
    heterogeneity measure, the per-entity complement to
    ``negbin_overdispersion_events`` (global) and
    ``zero_inflated_poisson_errors`` (zero-mass).

    Scale shape: one data-sized (user, day) count, one user-keyed
    sufficient-stats rollup, one scalar OLS aggregate — all
    partial-agg friendly, no grid, no window."""
    e = Tables(spark, sf_dir).events
    dd = e.agg(
        F.countDistinct(F.col("ts").cast("date"))
        .cast("double")
        .alias("nd")
    )
    uc = e.groupBy(
        "user_id", F.col("ts").cast("date").alias("d")
    ).agg(F.count(F.lit(1)).cast("double").alias("c"))
    us = uc.groupBy("user_id").agg(
        F.sum("c").alias("s1"), F.sum(F.col("c") * F.col("c")).alias("s2")
    )
    m = F.col("s1") / F.col("nd")
    v = F.col("s2") / F.col("nd") - m * m
    lg = (
        us.crossJoin(F.broadcast(dd))
        .select(m.alias("m"), v.alias("v"))
        .filter((F.col("v") > 0) & (F.col("m") > 0))
        .select(F.log("m").alias("x"), F.log("v").alias("y"))
    )
    b = F.covar_pop("x", "y") / F.var_pop("x")
    fit = lg.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        b.alias("b"),
        (F.avg("y") - b * F.avg("x")).alias("a"),
        (
            F.covar_pop("x", "y")
            * F.covar_pop("x", "y")
            / (F.var_pop("x") * F.var_pop("y"))
        ).alias("r2"),
    )
    return fit.crossJoin(F.broadcast(dd)).select(
        "n_users",
        F.col("nd").cast("long").alias("n_days"),
        F.round(F.col("b") + 1e-9, 6).alias("taylor_slope"),
        F.round(F.col("a") + 1e-9, 6).alias("taylor_intercept"),
        F.round(F.col("r2") + 1e-9, 6).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Rank change point, iterative outlier removal
# ---------------------------------------------------------------------------


@staged(
    "pettitt_change_point_daily",
    oracle=f"""
    WITH {_DAILY_SQL},
    dq AS (SELECT t, round(y + 1e-9, 4) AS y FROM daily),
    mr AS (
      SELECT t,
             rank() OVER (ORDER BY y)
               + (count(*) OVER (PARTITION BY y) - 1) / 2.0 AS r
      FROM dq),
    cu AS (
      SELECT t,
             sum(r) OVER (ORDER BY t) AS s,
             row_number() OVER (ORDER BY t) AS k,
             CAST(count(*) OVER () AS DOUBLE) AS n
      FROM mr),
    u AS (
      SELECT t, n, abs(2.0 * s - k * (n + 1.0)) AS au
      FROM cu WHERE k < n),
    best AS (
      SELECT t, n, au FROM u
      ORDER BY au DESC, t LIMIT 1)
    SELECT CAST(n AS BIGINT) AS n_days,
           round(au + 1e-9, 6) AS k_stat,
           CAST(t AS BIGINT) AS change_day,
           round(2.0 * exp(-6.0 * au * au / (n * n * n + n * n))
                 + 1e-12, 8) AS p_approx
    FROM best
    """,
)
def pettitt_change_point_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt's nonparametric change-point test on daily revenue: the
    Mann-Whitney-type statistic U_t = sum_(i<=t) sum_(j>t)
    sgn(y_i - y_j), computed via the exact midrank identity U_t =
    2 S_t - t(n+1) (S_t = cumulative midrank sum — the identity holds
    under ties because within-prefix sign pairs cancel), maximized
    over split days with the classic approximate p = 2 exp(-6K^2 /
    (n^3 + n^2)). The rank-robust single-change-point complement to
    ``changepoint_binseg_daily_revenue`` (variance-based) and
    ``page_hinkley_daily_revenue`` (sequential). Input quantized to
    4 dp (selection rule); argmax tiebreak = earliest day.

    Scale shape: one data-sized groupBy to the daily frame; ranks and
    the cumulative scan live on the domain-bounded series."""
    dq = _daily_df(spark, sf_dir).select(
        "t", F.round(F.col("y") + 1e-9, 4).alias("y")
    )
    mr = dq.select(
        "t",
        (
            F.rank().over(Window.orderBy("y"))
            + (F.count(F.lit(1)).over(Window.partitionBy("y")) - 1) / 2.0
        ).alias("r"),
    )
    wt = Window.orderBy("t")
    cu = mr.select(
        "t",
        F.sum("r").over(wt).alias("s"),
        F.row_number().over(wt).alias("k"),
        F.count(F.lit(1))
        .over(Window.partitionBy())
        .cast("double")
        .alias("n"),
    )
    u = cu.filter(F.col("k") < F.col("n")).select(
        "t",
        "n",
        F.abs(2.0 * F.col("s") - F.col("k") * (F.col("n") + 1.0)).alias("au"),
    )
    best = u.orderBy(F.desc("au"), F.asc("t")).limit(1)
    n, au = F.col("n"), F.col("au")
    return best.select(
        n.cast("long").alias("n_days"),
        F.round(au + 1e-9, 6).alias("k_stat"),
        F.col("t").cast("long").alias("change_day"),
        F.round(
            2.0 * F.exp(-6.0 * au * au / (n * n * n + n * n)) + 1e-12, 8
        ).alias("p_approx"),
    )


_ESD_ROUNDS = 5


def _esd_oracle() -> str:
    ctes = [
        _DAILY_SQL,
        """rem0 AS (SELECT t, round(y + 1e-9, 4) AS y FROM daily)""",
    ]
    picks = []
    for k in range(_ESD_ROUNDS):
        ctes.append(
            f"""st{k} AS (
      SELECT avg(y) AS m, stddev_samp(y) AS s, count(*) AS c
      FROM rem{k})"""
        )
        ctes.append(
            f"""pick{k} AS (
      SELECT {k + 1} AS rnd, rem{k}.t,
             round(abs(rem{k}.y - st{k}.m) / st{k}.s + 1e-12, 8) AS r
      FROM rem{k} CROSS JOIN st{k}
      ORDER BY round(abs(rem{k}.y - st{k}.m) / st{k}.s + 1e-12, 8) DESC,
               rem{k}.t
      LIMIT 1)"""
        )
        ctes.append(
            f"""rem{k + 1} AS (
      SELECT rem{k}.* FROM rem{k}
      WHERE rem{k}.t NOT IN (SELECT t FROM pick{k}))"""
        )
        picks.append(f"SELECT rnd, t, r FROM pick{k}")
    joined = ",\n    ".join(ctes)
    un = "\n      UNION ALL ".join(picks)
    return f"""
    WITH {joined},
    allp AS ({un})
    SELECT CAST(rnd AS BIGINT) AS esd_round,
           CAST(t AS BIGINT) AS day,
           round(r + 1e-9, 6) AS r_stat
    FROM allp ORDER BY esd_round
    """


@staged("generalized_esd_daily", oracle=_esd_oracle())
def generalized_esd_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized ESD (Rosner) outlier ladder on daily revenue: 5
    rounds of (standardize on the REMAINING days, extract the max
    |z|, remove it) — the multi-outlier extension of
    ``grubbs_outlier_daily_revenue``, whose single-shot test is
    masked when two extreme days shadow each other. Each round's R_i
    is quantized to 8 dp BEFORE the argmax (selection rule) with the
    earliest-day tiebreak, so both engines remove the identical day
    sequence; inputs quantized to 4 dp.

    Scale shape: the iteration runs on the domain-bounded daily
    frame; each round is one scalar aggregate + one top-1 selection —
    at 100 TB the daily rollup is the only data-sized pass."""
    rem = _daily_df(spark, sf_dir).select(
        "t", F.round(F.col("y") + 1e-9, 4).alias("y")
    ).localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
    out = None
    for k in range(_ESD_ROUNDS):
        st = rem.agg(
            F.avg("y").alias("m"), F.stddev_samp("y").alias("s")
        )
        r = F.round(
            F.abs(F.col("y") - F.col("m")) / F.col("s") + 1e-12, 8
        )
        pick = (
            rem.crossJoin(F.broadcast(st))
            .select(F.lit(k + 1).alias("rnd"), "t", r.alias("r"))
            .orderBy(F.desc("r"), F.asc("t"))
            .limit(1)
            .localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
        )
        out = pick if out is None else out.unionAll(pick)
        rem = rem.join(
            pick.select(F.col("t").alias("pt")),
            rem["t"] == F.col("pt"),
            "left_anti",
        ).localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
    return out.select(
        F.col("rnd").cast("long").alias("esd_round"),
        F.col("t").cast("long").alias("day"),
        F.round(F.col("r") + 1e-9, 6).alias("r_stat"),
    ).orderBy("esd_round")
