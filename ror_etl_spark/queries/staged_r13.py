"""Unserved operators: implemented and oracle-equipped, checked under
pytest (``tests/test_staged_r13.py``), but never imported by
``queries.load()``, so neither the registry nor the driver reaches them.
The module is kept only while its tests are retired a batch at a time;
nothing may register from it.

Contents: unit-root and causality closures for the daily series
(Dickey-Fuller, lag-1 Granger causality between daily click and
purchase counts), exact
1-Wasserstein between click and purchase values, term burstiness,
trade-graph centrality (harmonic centrality, spectral radius by power
iteration), embedding diagnostics (k-occurrence hubness, participation
ratio, the Calinski-Harabasz variance-ratio index), forecasting and
robust-regression kernels (Holt linear smoothing, ridge and Huber-IRLS
price elasticity, pinball loss), a two-component Gaussian mixture by
EM, Markov absorption time to purchase, RAKE keyphrases, Chao1
unseen-vocabulary richness, Cronbach's alpha (zero-cell-free
sufficient statistics), Page-Hinkley drift, and Hotelling's T-squared
two-sample test.

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

from ror_etl_spark.queries.staged_r11 import _TRADE_EDGE_CTES, _trade_edges
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
# Unit-root, causality and two-sample closures
# ---------------------------------------------------------------------------


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
