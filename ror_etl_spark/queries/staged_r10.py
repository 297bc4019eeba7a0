"""Distribution-statistics and survival/tail operators a
training-data pipeline runs on its telemetry: two-sample tests (KS,
Mann-Whitney), rank correlation (Spearman, Kendall), extreme-value fit
(Gumbel block maxima, Hill tail index), resampling variance (jackknife
CV), survival analysis (Kaplan-Meier), inequality (Lorenz deciles, Theil
index), graph local structure (clustering coefficient, bipartite
projection, diameter), sketch-style quantiles (fixed-bin histogram
interpolation), and corpus lexical diversity.

Every entry follows the registry discipline (registry.py module
docstring): identical aliases both sides, epsilon-shifted rounding on
floats, deterministic total orders for every rank/tiebreak.
``tests/test_staged_r10.py`` runs the Spark-vs-DuckDB comparison.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

# Loop-internal checkpoint blocks go to DISK, not storage memory:
# the r9 sf0.1 endurance sweep showed memory-backed checkpoint
# blocks accumulating across queries faster than the async
# ContextCleaner reaps them, starving later broadcast builds
# (NOTES.md r9; pinned by tests/test_checkpoint_discipline.py).
_DISK_ONLY = StorageLevel.DISK_ONLY

from ror_etl_spark.operators.util import global_cumsum, global_rank, spread
from ror_etl_spark.queries.corpusops import _TOKS_SQL
from ror_etl_spark.functions.text import tokens
from ror_etl_spark.registry import query
from ror_etl_spark.tables import Tables

# ---------------------------------------------------------------------------
# Two-sample tests
# ---------------------------------------------------------------------------


@query(
    "ks_test_value_click_purchase",
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
           round(max(abs(cca / tot.na - ccb / tot.nb)) + 1e-9, 6) AS ks_d,
           round(max(abs(cca / tot.na - ccb / tot.nb))
                 * sqrt(tot.na * tot.nb / (tot.na + tot.nb)) + 1e-9, 4)
             AS ks_stat
    FROM cum, tot
    GROUP BY tot.na, tot.nb
    """,
)
def ks_test_value_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the ``value``
    distributions of click vs purchase events: D = sup over the pooled
    support of |F_a(v) - F_b(v)|, plus the scaled statistic
    D·sqrt(n_a·n_b/(n_a+n_b)) a table lookup converts to a p-value.
    The ECDF gap is evaluated at every DISTINCT pooled value via one
    cumulative window — integer counts divided once at the end, so the
    sup is found over exactly the same rationals on both engines.

    Scale shape: one groupBy(value) aggregate (pooled-distinct-sized),
    then DISTRIBUTED exclusive running sums over the distinct-value
    frame (``global_cumsum`` — range partition + pid-local window +
    broadcast carry-ins; a bare ``Window.orderBy`` would collapse the
    cumulative into one task), one max. No per-row Python anywhere."""
    e = Tables(spark, sf_dir).events.filter(
        F.col("event_type").isin("click", "purchase")
    )
    g = e.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("cb"),
    )
    tot = g.agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    cum = (
        global_cumsum(g, ["value"], ["ca", "cb"], out=["pa", "pb"])
        .select(
            (F.col("pa") + F.col("ca")).alias("cca"),
            (F.col("pb") + F.col("cb")).alias("ccb"),
        )
        .crossJoin(F.broadcast(tot))
    )
    gap = F.abs(F.col("cca") / F.col("na") - F.col("ccb") / F.col("nb"))
    return cum.agg(
        F.max("na").cast("long").alias("n_a"),
        F.max("nb").cast("long").alias("n_b"),
        F.round(F.max(gap) + 1e-9, 6).alias("ks_d"),
        F.round(
            F.max(gap)
            * F.sqrt(
                # doubles, not long*long: na*nb overflows int64 (ANSI
                # runtime error) once each side exceeds ~3e9 events,
                # which a 100 TB corpus reaches; DuckDB's HUGEINT hides
                # the same bug on the oracle side (ADVICE r9).
                F.max("na").cast("double")
                * F.max("nb").cast("double")
                / (F.max("na") + F.max("nb"))
            )
            + 1e-9,
            4,
        ).alias("ks_stat"),
    )


@query(
    "mannwhitney_totalprice_urgent_low",
    oracle="""
    WITH s AS (
      SELECT o_totalprice AS v,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS ia
      FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
    g AS (SELECT v, count(*) AS c, sum(ia) AS ca FROM s GROUP BY v),
    r AS (
      SELECT v, c, ca,
             coalesce(sum(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
      FROM g),
    agg AS (
      SELECT sum(ca * (before + (c + 1) / 2.0)) AS r_a,
             sum(ca) AS na, sum(c - ca) AS nb, sum(c) AS n,
             sum(CAST(c AS DOUBLE) * c * c - c) AS tie_cubes
      FROM r)
    SELECT CAST(na AS BIGINT) AS n_a,
           CAST(nb AS BIGINT) AS n_b,
           round(r_a - na * (na + 1) / 2.0 + 1e-9, 2) AS u_stat,
           round(((r_a - na * (na + 1) / 2.0) - na * nb / 2.0)
                 / sqrt(na * nb / 12.0
                        * ((n + 1) - tie_cubes / (n * (n - 1.0))))
                 + 1e-9, 4) AS z
    FROM agg
    """,
)
def mannwhitney_totalprice_urgent_low(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mann-Whitney U (rank-sum) test: do 1-URGENT orders have a
    different totalprice distribution than 5-LOW ones? Average ranks
    come from the closed form rank(v) = count_less + (count_eq + 1)/2
    computed on the per-distinct-value frame (no per-row ranking), the
    U statistic from R_a - n_a(n_a+1)/2, and z uses the standard tie
    correction Σ(t³-t) — no continuity correction (documented contract;
    both engines identical).

    Scale shape: one groupBy(value) aggregate, one DISTRIBUTED
    exclusive cumsum (``global_cumsum``) on the distinct-value frame,
    one scalar aggregate. The rank closed form is what makes this
    100 TB-safe — a naive per-row rank would global-sort the fact
    table; this range-sorts only the distinct values."""
    o = Tables(spark, sf_dir).orders.filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    g = o.groupBy(F.col("o_totalprice").alias("v")).agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
        ).alias("ca"),
    )
    r = global_cumsum(g, ["v"], "c", out="before").select("c", "ca", "before")
    agg = r.agg(
        F.sum(F.col("ca") * (F.col("before") + (F.col("c") + 1) / 2.0)).alias(
            "r_a"
        ),
        F.sum("ca").alias("na"),
        F.sum(F.col("c") - F.col("ca")).alias("nb"),
        F.sum("c").alias("n"),
        F.sum(
            F.col("c").cast("double") * F.col("c") * F.col("c") - F.col("c")
        ).alias("tie_cubes"),
    )
    # na/nb as doubles before any product: long*long na*nb overflows
    # int64 at ~3e9 rows per side (ADVICE r9).
    na, nb, n = (
        F.col("na").cast("double"),
        F.col("nb").cast("double"),
        F.col("n"),
    )
    u = F.col("r_a") - na * (na + 1) / 2.0
    var = na * nb / 12.0 * ((n + 1) - F.col("tie_cubes") / (n * (n - 1.0)))
    return agg.select(
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        F.round(u + 1e-9, 2).alias("u_stat"),
        F.round((u - na * nb / 2.0) / F.sqrt(var) + 1e-9, 4).alias("z"),
    )


@query(
    "spearman_daily_qty_price",
    oracle="""
    WITH daily AS (
      SELECT l_shipdate AS dt, sum(l_quantity) AS x, avg(l_extendedprice) AS y
      FROM lineitem GROUP BY l_shipdate),
    gx AS (SELECT x, count(*) AS c FROM daily GROUP BY x),
    rx AS (
      SELECT x, coalesce(sum(c) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + (c + 1) / 2.0 AS rank_x
      FROM gx),
    gy AS (SELECT y, count(*) AS c FROM daily GROUP BY y),
    ry AS (
      SELECT y, coalesce(sum(c) OVER (ORDER BY y
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + (c + 1) / 2.0 AS rank_y
      FROM gy),
    ranked AS (
      SELECT rx.rank_x AS a, ry.rank_y AS b
      FROM daily JOIN rx USING (x) JOIN ry USING (y))
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           round((avg(a * b) - avg(a) * avg(b))
                 / (sqrt(avg(a * a) - avg(a) * avg(a))
                    * sqrt(avg(b * b) - avg(b) * avg(b))) + 1e-9, 4)
             AS spearman_rho
    FROM ranked
    """,
)
def spearman_daily_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between daily shipped quantity and
    daily average extended price — the monotone-association measure
    that survives outliers Pearson does not. Average ranks use the
    same count_less + (count_eq+1)/2 closed form as the Mann-Whitney
    operator (tie-exact, no per-row sort), then Pearson's moment form
    on the ranks (identical fp sequence to the registered ACF query).

    Scale shape: one date-keyed aggregate, two DISTRIBUTED
    distinct-value cumsums (``global_cumsum``, series-domain-sized),
    one scalar aggregate."""
    li = Tables(spark, sf_dir).lineitem
    daily = li.groupBy(F.col("l_shipdate").alias("dt")).agg(
        F.sum("l_quantity").alias("x"), F.avg("l_extendedprice").alias("y")
    )

    def avg_rank(df: DataFrame, col: str, out: str) -> DataFrame:
        g = df.groupBy(col).agg(F.count(F.lit(1)).alias("c"))
        return global_cumsum(g, [col], "c", out="__before").select(
            col, (F.col("__before") + (F.col("c") + 1) / 2.0).alias(out)
        )

    ranked = daily.join(avg_rank(daily, "x", "rank_x"), "x").join(
        avg_rank(daily, "y", "rank_y"), "y"
    )
    a, b = F.col("rank_x"), F.col("rank_y")
    rho = (F.avg(a * b) - F.avg(a) * F.avg(b)) / (
        F.sqrt(F.avg(a * a) - F.avg(a) * F.avg(a))
        * F.sqrt(F.avg(b * b) - F.avg(b) * F.avg(b))
    )
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(rho + 1e-9, 4).alias("spearman_rho"),
    )


# ---------------------------------------------------------------------------
# Extreme values / tails
# ---------------------------------------------------------------------------

_EULER_GAMMA = 0.5772156649015329
_SQRT6_OVER_PI = math.sqrt(6.0) / math.pi
# ln(-ln(1 - 1/T)) for the return periods, precomputed once so neither
# engine evaluates a nested log at query time
_GUMBEL_RP = {52: math.log(-math.log(1.0 - 1.0 / 52)),
              520: math.log(-math.log(1.0 - 1.0 / 520))}


def _gumbel_oracle() -> str:
    rl = ", ".join(
        f"round(mu - beta * {c!r} + 1e-9, 2) AS return_level_{t}"
        for t, c in _GUMBEL_RP.items()
    )
    return f"""
    WITH daily AS (
      SELECT o_orderdate AS dt, sum(o_totalprice) AS rev
      FROM orders GROUP BY o_orderdate),
    mn AS (SELECT min(dt) AS d0 FROM daily),
    blocks AS (
      SELECT date_diff('day', mn.d0, daily.dt) // 7 AS wk, max(rev) AS mx
      FROM daily, mn GROUP BY wk),
    fit AS (
      SELECT count(*) AS n_blocks, avg(mx) AS m, stddev_samp(mx) AS s
      FROM blocks),
    p AS (SELECT n_blocks, m - {_EULER_GAMMA!r} * (s * {_SQRT6_OVER_PI!r}) AS mu,
                 s * {_SQRT6_OVER_PI!r} AS beta
          FROM fit)
    SELECT CAST(n_blocks AS BIGINT) AS n_blocks,
           round(mu + 1e-9, 2) AS mu,
           round(beta + 1e-9, 2) AS beta,
           {rl}
    FROM p
    """


@query("gumbel_block_maxima_revenue", oracle=_gumbel_oracle())
def gumbel_block_maxima_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extreme-value analysis of daily revenue: weekly block maxima
    fitted to a Gumbel distribution by the method of moments
    (beta = s·sqrt(6)/pi, mu = mean - gamma·beta) and the T-block
    return levels mu - beta·ln(-ln(1-1/T)) for T = 52 and 520 — "the
    weekly revenue spike you should expect once a year / decade". The
    return-period constants are precomputed Python literals inlined
    into BOTH engines, so no nested log runs at query time.

    Scale shape: a date-keyed aggregate, a block-keyed max (weeks =
    days/7, integer arithmetic off one broadcast min date), then a
    scalar moment fit. Block maxima are the scalable EV method —
    no order statistics over the raw data, only per-block maxes.
    Contract: requires >= 2 blocks (stddev_samp of one block is NULL)."""
    o = Tables(spark, sf_dir).orders
    daily = o.groupBy(F.col("o_orderdate").alias("dt")).agg(
        F.sum("o_totalprice").alias("rev")
    )
    d0 = daily.agg(F.min("dt").alias("d0"))
    blocks = (
        daily.crossJoin(F.broadcast(d0))
        .groupBy(
            (F.datediff(F.col("dt"), F.col("d0")) / F.lit(7))
            .cast("long")
            .alias("wk")
        )
        .agg(F.max("rev").alias("mx"))
    )
    fit = blocks.agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.avg("mx").alias("m"),
        F.stddev_samp("mx").alias("s"),
    )
    beta = F.col("s") * F.lit(_SQRT6_OVER_PI)
    mu = F.col("m") - F.lit(_EULER_GAMMA) * beta
    cols = [
        F.col("n_blocks").cast("long").alias("n_blocks"),
        F.round(mu + 1e-9, 2).alias("mu"),
        F.round(beta + 1e-9, 2).alias("beta"),
    ]
    for t, c in _GUMBEL_RP.items():
        cols.append(
            F.round(mu - beta * F.lit(c) + 1e-9, 2).alias(f"return_level_{t}")
        )
    return fit.select(*cols)

# ---------------------------------------------------------------------------
# Graph local structure
# ---------------------------------------------------------------------------


@query(
    "clustering_coefficient_nations",
    oracle="""
    WITH und AS (
      SELECT DISTINCT least(s.s_nationkey, c.c_nationkey) AS a,
                      greatest(s.s_nationkey, c.c_nationkey) AS b
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE s.s_nationkey <> c.c_nationkey),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS degree
      FROM (SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und)
      GROUP BY node),
    tri AS (
      SELECT corner AS node, CAST(count(*) AS BIGINT) AS triangles
      FROM (
        SELECT unnest([e1.a, e1.b, e2.b]) AS corner
        FROM und e1
        JOIN und e2 ON e2.a = e1.b
        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b)
      GROUP BY corner)
    SELECT CAST(n.n_nationkey AS INTEGER) AS n_nationkey,
           n.n_name,
           coalesce(d.degree, 0) AS degree,
           coalesce(t.triangles, 0) AS triangles,
           round(CASE WHEN coalesce(d.degree, 0) >= 2
                      THEN 2.0 * coalesce(t.triangles, 0)
                           / (d.degree * (d.degree - 1))
                      ELSE 0.0 END + 1e-9, 6) AS clustering_coeff
    FROM nation n
    LEFT JOIN deg d ON d.node = n.n_nationkey
    LEFT JOIN tri t ON t.node = n.n_nationkey
    ORDER BY n_nationkey
    """,
)
def clustering_coefficient_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per nation on the undirected trade
    graph — the per-node refinement of ``triangle_count_nations``:
    C(v) = 2·triangles(v) / (deg(v)·(deg(v)-1)), the probability two of
    v's trade partners trade with each other. Edge derivation and the
    canonical a<b two-path+closing-edge triangle join are IDENTICAL to
    the registered global count (queries/engineops.py), so the two
    queries agree by construction; each triangle contributes once to
    each of its three corners.

    Scale shape: edge derivation is the fact-table join (the dominant
    cost, shared shape with pagerank/triangles); everything after runs
    on the node-domain-sized edge list. At 100 TB the edge list is the
    aggregate, not the fact table."""
    t = Tables(spark, sf_dir)
    und = (
        t.lineitem.join(
            t.orders, F.col("l_orderkey") == F.col("o_orderkey")
        )
        .join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(t.supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .select(
            F.least("s_nationkey", "c_nationkey").alias("a"),
            F.greatest("s_nationkey", "c_nationkey").alias("b"),
        )
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.explode(
                F.array(F.col("e1.a"), F.col("e1.b"), F.col("e2.b"))
            ).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    n = Tables(spark, sf_dir).nation
    d, tr = F.col("degree"), F.col("triangles")
    return (
        n.join(deg, n["n_nationkey"] == deg["node"], "left")
        .drop("node")
        .join(tri, n["n_nationkey"] == tri["node"], "left")
        .select(
            F.col("n_nationkey").cast("int").alias("n_nationkey"),
            "n_name",
            F.coalesce(d, F.lit(0)).alias("degree"),
            F.coalesce(tr, F.lit(0)).alias("triangles"),
            F.round(
                F.when(
                    F.coalesce(d, F.lit(0)) >= 2,
                    2.0 * F.coalesce(tr, F.lit(0)) / (d * (d - 1)),
                ).otherwise(0.0)
                + 1e-9,
                6,
            ).alias("clustering_coeff"),
        )
        .orderBy("n_nationkey")
    )


# ---------------------------------------------------------------------------
# Sketch-style quantiles
# ---------------------------------------------------------------------------

_HQ_BINS = 128
_HQ_PS = [0.5, 0.9, 0.99]


def _histogram_quantile_oracle() -> str:
    ps = ", ".join(str(p) for p in _HQ_PS)
    return f"""
    WITH ext AS (
      SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx,
             count(*) AS n
      FROM lineitem),
    binned AS (
      SELECT least(CAST(floor((l_extendedprice - ext.mn)
                              / ((ext.mx - ext.mn) / {_HQ_BINS}.0)) AS BIGINT),
                   {_HQ_BINS - 1}) AS bin,
             count(*) AS c
      FROM lineitem, ext GROUP BY bin),
    cum AS (
      SELECT bin, c,
             coalesce(sum(c) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
      FROM binned),
    hit AS (
      SELECT p.p, min(cum.bin) AS bin
      FROM (SELECT unnest([{ps}]) AS p) p
      JOIN cum ON cum.before + cum.c >= p.p * (SELECT n FROM ext)
      GROUP BY p.p)
    SELECT hit.p,
           CAST(hit.bin AS BIGINT) AS bin,
           round(ext.mn + hit.bin * ((ext.mx - ext.mn) / {_HQ_BINS}.0)
                 + (hit.p * ext.n - cum.before) / cum.c
                   * ((ext.mx - ext.mn) / {_HQ_BINS}.0) + 1e-9, 4) AS est
    FROM hit JOIN cum ON cum.bin = hit.bin, ext
    ORDER BY p
    """


@query("histogram_quantile_sketch", oracle=_histogram_quantile_oracle())
def histogram_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bin histogram quantile estimation — the mergeable,
    deterministic sketch path for quantiles at scale (contrast
    ``percentile_exact``, which global-sorts): 128 equal-width bins
    over [min, max], cumulative counts, and linear interpolation
    inside the first bin whose cumulative count reaches p·n. Bin
    assignment and interpolation are the identical double-precision
    expressions on both engines, so the estimates hash-match exactly.

    Scale shape: one min/max scan, one 128-key aggregate (map-side
    combine does almost all the work), a 128-row window, and a 3-row
    join. Bin counts merge associatively across any partitioning —
    this is exactly the t-digest/KLL deployment shape with a
    deterministic estimator contract instead of a randomized one.
    Contract: requires max > min (a single-valued column has no bins)
    and a non-empty table."""
    li = Tables(spark, sf_dir).lineitem
    ext = li.agg(
        F.min("l_extendedprice").alias("mn"),
        F.max("l_extendedprice").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    )
    width = (F.col("mx") - F.col("mn")) / float(_HQ_BINS)
    binned = (
        li.crossJoin(F.broadcast(ext))
        .groupBy(
            F.least(
                F.floor((F.col("l_extendedprice") - F.col("mn")) / width).cast(
                    "long"
                ),
                F.lit(_HQ_BINS - 1),
            ).alias("bin")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
    cum = binned.select(
        "bin", "c", F.coalesce(F.sum("c").over(w), F.lit(0)).alias("before")
    )
    ps = spark.createDataFrame([(p,) for p in _HQ_PS], "p double")
    hit = (
        F.broadcast(ps)
        .join(
            cum.crossJoin(F.broadcast(ext)),
            F.col("before") + F.col("c") >= F.col("p") * F.col("n"),
        )
        .groupBy("p")
        .agg(F.min("bin").alias("bin"))
    )
    est = (
        hit.join(cum, "bin")
        .crossJoin(F.broadcast(ext))
        .select(
            "p",
            F.col("bin").cast("long").alias("bin"),
            F.round(
                F.col("mn")
                + F.col("bin") * width
                + (F.col("p") * F.col("n") - F.col("before"))
                / F.col("c")
                * width
                + 1e-9,
                4,
            ).alias("est"),
        )
    )
    return est.select("p", "bin", "est").orderBy("p")


# ---------------------------------------------------------------------------
# Corpus lexical diversity
# ---------------------------------------------------------------------------


@query(
    "lexical_diversity_by_source",
    oracle=f"""
    WITH tok AS (
      SELECT source, w
      FROM (SELECT source, unnest({_TOKS_SQL}) AS w FROM documents)
      WHERE w <> ''),
    wc AS (SELECT source, w, count(*) AS c FROM tok GROUP BY source, w),
    stats AS (
      SELECT source,
             CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
      FROM wc GROUP BY source),
    docs AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source)
    SELECT d.source, d.n_docs,
           coalesce(s.n_tokens, 0) AS n_tokens,
           coalesce(s.n_types, 0) AS n_types,
           round(coalesce(s.n_types, 0) / greatest(s.n_tokens, 1) + 1e-9, 6)
             AS type_token_ratio,
           round(coalesce(s.n_hapax, 0) / greatest(s.n_types, 1) + 1e-9, 6)
             AS hapax_ratio
    FROM docs d LEFT JOIN stats s USING (source)
    ORDER BY source
    """,
)
def lexical_diversity_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical diversity report: type-token ratio and hapax
    (frequency-1) ratio — the vocabulary-richness panel a corpus owner
    reads next to the quality filters: boilerplate-heavy or templated
    sources collapse TTR; OCR noise and junk inflate hapax share.
    Complements the GLOBAL count-of-counts (good_turing_word_smoothing)
    with the per-source breakdown.

    Scale shape: one (source, word)-keyed aggregate over the token
    explode (partial aggregation absorbs token duplicates map-side),
    then a source-keyed rollup of the vocabulary-sized frame. The
    documents table joins back only for the per-source doc counts."""
    d = spread(Tables(spark, sf_dir).documents)
    tok = d.select(
        "source", F.explode(tokens(F.col("text"))).alias("w")
    ).filter(F.col("w") != "")
    wc = tok.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    stats = wc.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_hapax"),
    )
    docs = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    return (
        docs.join(stats, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_types", F.lit(0)).alias("n_types"),
            F.round(
                F.coalesce("n_types", F.lit(0))
                / F.greatest(F.col("n_tokens"), F.lit(1))
                + 1e-9,
                6,
            ).alias("type_token_ratio"),
            F.round(
                F.coalesce("n_hapax", F.lit(0))
                / F.greatest(F.col("n_types"), F.lit(1))
                + 1e-9,
                6,
            ).alias("hapax_ratio"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Inequality
# ---------------------------------------------------------------------------


@query(
    "lorenz_curve_deciles",
    oracle="""
    WITH per AS (
      SELECT o_custkey AS ck, sum(o_totalprice) AS x
      FROM orders GROUP BY o_custkey),
    tiled AS (
      SELECT x, ntile(10) OVER (ORDER BY x, ck) AS decile FROM per),
    agg AS (
      SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
             sum(x) AS rev
      FROM tiled GROUP BY decile),
    tot AS (SELECT sum(rev) AS t FROM agg)
    SELECT CAST(decile AS BIGINT) AS decile, n_customers,
           round(rev + 1e-9, 2) AS revenue,
           round(rev / tot.t + 1e-9, 6) AS revenue_share,
           round(sum(rev) OVER (ORDER BY decile
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / tot.t
                 + 1e-9, 6) AS cum_share
    FROM agg, tot
    ORDER BY decile
    """,
)
def lorenz_curve_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve in decile resolution over customer revenue — the
    table behind the registered Gini scalar
    (gini_coefficient_customer_revenue): customers ranked by revenue
    (total order (x, custkey), so ntile is deterministic), split into
    10 equal-count buckets, each reporting its revenue share and the
    cumulative share — "the bottom 50% of customers hold cum_share(5)
    of revenue".

    Scale shape: a customer-keyed aggregate, one DISTRIBUTED global
    rank (``global_rank`` — range partition + local window + carry
    offsets, never a single-task ntile window), then a 10-row rollup.
    The decile comes from the 0-based rank via SQL ntile's EXACT
    piecewise rule — with q = n div 10, r = n mod 10, the first r
    buckets hold q+1 rows (ranks below r·(q+1)) and the rest hold q —
    in pure integer arithmetic. (The naive floor(rank·10/n) spreads
    the larger buckets evenly instead of front-loading them and
    disagrees with ntile whenever 10 ∤ n — caught in staging because
    every driver SF's customer count happens to be divisible by 10.)"""
    o = Tables(spark, sf_dir).orders
    per = o.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.sum("o_totalprice").alias("x")
    )
    n_cust = per.agg(F.count(F.lit(1)).alias("nc"))
    tiled = (
        global_rank(per, "x", "ck", out="pos")
        .crossJoin(F.broadcast(n_cust))
        .withColumn("q", F.expr("nc div 10"))
        .withColumn("r", F.col("nc") % 10)
        .withColumn("cut", F.col("r") * (F.col("q") + 1))
        .select(
            "x",
            (
                F.when(
                    F.col("pos") < F.col("cut"),
                    F.expr("pos div (q + 1)"),
                ).otherwise(F.col("r") + F.expr("(pos - cut) div q"))
                + 1
            ).alias("decile"),
        )
    )
    agg = tiled.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("x").alias("rev"),
    )
    tot = agg.agg(F.sum("rev").alias("t"))
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            F.col("decile").cast("long").alias("decile"),
            "n_customers",
            F.round(F.col("rev") + 1e-9, 2).alias("revenue"),
            F.round(F.col("rev") / F.col("t") + 1e-9, 6).alias("revenue_share"),
            F.round(
                F.sum("rev").over(w) / F.col("t") + 1e-9, 6
            ).alias("cum_share"),
        )
        .orderBy("decile")
    )

# ---------------------------------------------------------------------------
# Tail index / resampling / survival / behavioral entropy
# ---------------------------------------------------------------------------

_HILL_K = 500


@query(
    "hill_tail_index_totalprice",
    oracle=f"""
    WITH top AS (
      SELECT o_totalprice AS v,
             row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
      ORDER BY o_totalprice DESC, o_orderkey LIMIT {_HILL_K + 1}),
    xk AS (SELECT v AS xk1 FROM top WHERE rn = {_HILL_K + 1})
    SELECT CAST({_HILL_K} AS BIGINT) AS k,
           round(xk.xk1 + 1e-9, 2) AS x_tail,
           round({_HILL_K} / sum(ln(top.v / xk.xk1)) + 1e-9, 4) AS hill_alpha
    FROM top, xk WHERE top.rn <= {_HILL_K}
    GROUP BY xk.xk1
    """,
)
def hill_tail_index_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the right-tail index of order totalprice over
    the top k=500 order statistics: alpha-hat = k / sum ln(x_(i)/x_(k+1))
    — the standard "how heavy is the tail really" measurement behind
    every power-law claim (alpha <= 2: infinite variance; the partner
    diagnostic to gumbel_block_maxima's fitted return levels). The
    order statistics use the total order (value DESC, orderkey), so
    boundary ties are deterministic. Contract: requires > k+1 rows.

    Scale shape: the ONLY global operation is a top-(k+1) — Spark
    compiles orderBy+limit to TakeOrderedAndProject (per-partition
    heaps, no global sort; the same plan pin as topk_global); the
    estimator then runs on the 501-row frame."""
    o = Tables(spark, sf_dir).orders
    top = (
        o.select(F.col("o_totalprice").alias("v"), "o_orderkey")
        .orderBy(F.desc("v"), F.asc("o_orderkey"))
        .limit(_HILL_K + 1)
    )
    wr = Window.orderBy(F.desc("v"), F.asc("o_orderkey"))
    ranked = top.select("v", F.row_number().over(wr).alias("rn"))
    xk = ranked.filter(F.col("rn") == _HILL_K + 1).select(
        F.col("v").alias("xk1")
    )
    return (
        ranked.filter(F.col("rn") <= _HILL_K)
        .crossJoin(F.broadcast(xk))
        .groupBy("xk1")
        .agg(F.sum(F.log(F.col("v") / F.col("xk1"))).alias("s"))
        .select(
            F.lit(_HILL_K).cast("long").alias("k"),
            F.round(F.col("xk1") + 1e-9, 2).alias("x_tail"),
            F.round(F.lit(_HILL_K) / F.col("s") + 1e-9, 4).alias("hill_alpha"),
        )
    )


@query(
    "jackknife_cv_daily_revenue",
    oracle="""
    WITH daily AS (
      SELECT o_orderdate AS dt, sum(o_totalprice) AS x
      FROM orders GROUP BY o_orderdate),
    tot AS (
      SELECT sum(x) AS s, sum(x * x) AS ss, count(*) AS n FROM daily),
    full_cv AS (
      SELECT sqrt((ss - s * s / n) / (n - 1)) / (s / n) AS cv, n
      FROM tot),
    loo AS (
      SELECT sqrt(((tot.ss - d.x * d.x)
                   - (tot.n - 1) * ((tot.s - d.x) / (tot.n - 1))
                     * ((tot.s - d.x) / (tot.n - 1))) / (tot.n - 2))
             / ((tot.s - d.x) / (tot.n - 1)) AS cv_i
      FROM daily d, tot),
    jk AS (SELECT avg(cv_i) AS cvbar,
                  sum((cv_i - (SELECT avg(cv_i) FROM loo))
                      * (cv_i - (SELECT avg(cv_i) FROM loo))) AS ssq,
                  count(*) AS n
           FROM loo)
    SELECT CAST(jk.n AS BIGINT) AS n_days,
           round(f.cv + 1e-9, 6) AS cv,
           round(sqrt((jk.n - 1.0) / jk.n * jk.ssq) + 1e-9, 6) AS jack_se,
           round((jk.n - 1.0) * (jk.cvbar - f.cv) + 1e-9, 6) AS jack_bias
    FROM jk, full_cv f
    """,
)
def jackknife_cv_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jackknife standard error and bias of the coefficient of variation
    of daily revenue — the deterministic resampling partner to the
    registered bootstrap CI (bootstrap_mean_ci_revenue): every
    leave-one-out CV is computed in CLOSED FORM from the global
    (sum, sum-of-squares, n) — m_i = (S-x_i)/(n-1), v_i = (SS - x_i²
    - (n-1)·m_i²)/(n-2) — so the "resampling" is one per-row
    projection over the daily frame, no replication, no RNG.

    Scale shape: a date-keyed aggregate, one broadcast of three
    scalars, a per-row map, two scalar aggregates. The n-resamples ×
    n-rows blowup a literal jackknife implies never materializes."""
    o = Tables(spark, sf_dir).orders
    daily = o.groupBy(F.col("o_orderdate").alias("dt")).agg(
        F.sum("o_totalprice").alias("x")
    )
    tot = daily.agg(
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("ss"),
        F.count(F.lit(1)).alias("n"),
    )
    s, ss, n, x = F.col("s"), F.col("ss"), F.col("n"), F.col("x")
    full_cv = tot.select(
        (F.sqrt((ss - s * s / n) / (n - 1)) / (s / n)).alias("cv"),
    )
    m_i = (s - x) / (n - 1)
    v_i = ((ss - x * x) - (n - 1) * m_i * m_i) / (n - 2)
    loo = daily.crossJoin(F.broadcast(tot)).select(
        (F.sqrt(v_i) / m_i).alias("cv_i")
    )
    # two-pass centered sum (not sum(cv²) - n·cvbar²): the one-pass form
    # subtracts near-equal magnitudes and loses the digits the 6-dp
    # contract needs; the oracle uses the same explicit centered form
    cvbar = loo.agg(F.avg("cv_i").alias("cvbar"))
    jk = (
        loo.crossJoin(F.broadcast(cvbar))
        .agg(
            F.max("cvbar").alias("cvbar"),
            F.sum(
                (F.col("cv_i") - F.col("cvbar"))
                * (F.col("cv_i") - F.col("cvbar"))
            ).alias("ssq"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return jk.crossJoin(F.broadcast(full_cv)).select(
        F.col("n").cast("long").alias("n_days"),
        F.round(F.col("cv") + 1e-9, 6).alias("cv"),
        F.round(
            F.sqrt((F.col("n") - 1.0) / F.col("n") * F.col("ssq")) + 1e-9, 6
        ).alias("jack_se"),
        F.round(
            (F.col("n") - 1.0) * (F.col("cvbar") - F.col("cv")) + 1e-9, 6
        ).alias("jack_bias"),
    )


@query(
    "kaplan_meier_time_to_purchase",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             min(ts) AS t0,
             max(ts) AS tmax,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS tp
      FROM events GROUP BY user_id),
    dur AS (
      SELECT user_id,
             (epoch_us(coalesce(tp, tmax)) - epoch_us(t0)) // 3600000000
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
    km AS (
      SELECT d_h, n_risk, n_events,
             exp(coalesce(sum(ln(CASE WHEN n_events < n_risk
                                 THEN 1.0 - CAST(n_events AS DOUBLE) / n_risk
                                 ELSE 1.0 END))
                 OVER (ORDER BY d_h
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
             * (1.0 - CAST(n_events AS DOUBLE) / n_risk) AS s
      FROM ev)
    SELECT CAST(d_h AS BIGINT) AS duration_h,
           CAST(n_risk AS BIGINT) AS n_risk,
           n_events,
           round(s + 1e-9, 6) AS survival
    FROM km ORDER BY duration_h
    """,
)
def kaplan_meier_time_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier product-limit estimator of time-to-first-purchase:
    each user enters at their first event; users who never purchase are
    right-censored at their last event. Durations are integer hours
    (exact microsecond arithmetic floor-divided on both engines), the
    at-risk count at t is everyone whose duration >= t, and the
    survival curve is the running product of (1 - d_t/n_t) over event
    times — computed as exp of a cumulative ln-sum so both engines run
    the identical fp sequence. The funnel-analytics question this
    answers: "what fraction of users still haven't purchased h hours
    after first touch?"

    Scale shape: one user-keyed aggregate over the fact table, then
    everything runs on the duration-domain-sized frame (hours — a few
    thousand keys at any corpus size): a groupBy, one cumulative
    window, one ln-sum window."""
    e = Tables(spark, sf_dir).events
    per_user = e.groupBy("user_id").agg(
        F.min("ts").alias("t0"),
        F.max("ts").alias("tmax"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("tp"),
    )
    # timestamp_diff(MICROSECOND) works on TIMESTAMP and TIMESTAMP_NTZ
    # alike (unix_micros rejects NTZ, which this driver round's events.ts
    # is); `div` keeps the floor in exact integer arithmetic, matching
    # the oracle's epoch_us(...) // 3600000000
    dur = per_user.select(
        F.timestamp_diff(
            "MICROSECOND", F.col("t0"), F.coalesce("tp", "tmax")
        ).alias("d_us"),
        F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("observed"),
    ).select(
        F.expr("d_us div 3600000000").alias("d_h"),
        "observed",
    )
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
    ev = risk.filter(F.col("n_events") > 0)
    # factor can be 0 only on the FINAL event time (n_events = n_risk ⇒
    # no one survives past t, so no later event rows exist); guard the
    # ln argument so that row contributes ln(1)=0 to LATER windows (none)
    # and multiply the current factor outside the exp — both engines
    # identical, no ln(0) ever evaluated
    factor = 1.0 - F.col("n_events").cast("double") / F.col("n_risk")
    guarded = F.when(F.col("n_events") < F.col("n_risk"), factor).otherwise(
        F.lit(1.0)
    )
    wk = Window.orderBy("d_h").rowsBetween(Window.unboundedPreceding, -1)
    km = ev.select(
        "d_h",
        "n_risk",
        "n_events",
        (
            F.exp(F.coalesce(F.sum(F.log(guarded)).over(wk), F.lit(0.0)))
            * factor
        ).alias("s"),
    )
    return km.select(
        F.col("d_h").cast("long").alias("duration_h"),
        F.col("n_risk").cast("long").alias("n_risk"),
        "n_events",
        F.round(F.col("s") + 1e-9, 6).alias("survival"),
    ).orderBy("duration_h")


@query(
    "user_event_entropy_topk",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, count(*) AS c
      FROM events GROUP BY user_id, event_type),
    n AS (SELECT user_id, sum(c) AS n FROM c GROUP BY user_id),
    h AS (
      SELECT c.user_id,
             CAST(max(n.n) AS BIGINT) AS n_events,
             round(-sum((c.c / n.n) * ln(c.c / n.n)) + 1e-9, 6) AS entropy
      FROM c JOIN n ON n.user_id = c.user_id
      GROUP BY c.user_id)
    SELECT user_id, n_events, entropy
    FROM h
    ORDER BY entropy DESC, user_id
    LIMIT 50
    """,
)
def user_event_entropy_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 users by Shannon entropy of their event-type mix — the
    behavioral-diversity screen (bots and scripted traffic sit at
    entropy ~0; engaged humans spread across event types). Entropy is
    ROUNDED BEFORE ranking so the top-k cutoff is decided on identical
    values in both engines (raw last-ulp float noise cannot reorder
    the boundary), with user_id as the total-order tiebreak.

    Scale shape: a (user, type)-keyed aggregate (map-side combined),
    a user-keyed rollup, and a top-k that compiles to
    TakeOrderedAndProject — no global sort of the user domain."""
    e = Tables(spark, sf_dir).events
    c = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    n = c.groupBy("user_id").agg(F.sum("c").alias("n"))
    p = F.col("c") / F.col("n")
    h = (
        c.join(n, "user_id")
        .groupBy("user_id")
        .agg(
            F.max("n").cast("long").alias("n_events"),
            F.round(-F.sum(p * F.log(p)) + 1e-9, 6).alias("entropy"),
        )
    )
    return h.orderBy(F.desc("entropy"), F.asc("user_id")).limit(50)

# ---------------------------------------------------------------------------
# Second wave: ANOVA F, Dunning G² collocations, PACF, mutual information
# ---------------------------------------------------------------------------


@query(
    "anova_f_value_by_event_type",
    oracle="""
    WITH g AS (
      SELECT event_type, count(*) AS n, sum(value) AS s,
             sum(value * value) AS ss
      FROM events GROUP BY event_type),
    tot AS (
      SELECT sum(n) AS nn, sum(s) AS st, count(*) AS k,
             sum(s * s / n) AS sb, sum(ss) AS sq
      FROM g)
    SELECT CAST(k AS BIGINT) AS k_groups,
           CAST(nn AS BIGINT) AS n,
           round(((sb - st * st / nn) / (k - 1))
                 / ((sq - sb) / (nn - k)) + 1e-9, 4) AS f_stat
    FROM tot
    """,
)
def anova_f_value_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic: does mean event value differ across
    event types? Between-group and within-group sums of squares come
    entirely from per-group (n, Σx, Σx²) — the mergeable-moments form,
    so one partial-aggregated groupBy is the ONLY pass over the data and
    the F ratio is assembled from a k-row frame. The variance-equality
    companion is the registered Brown-Forsythe test; this one compares
    MEANS under the equal-variance assumption.

    Scale shape: one groupBy(event_type) with map-side combine, one
    k-row aggregate. Nothing else touches the fact table."""
    e = Tables(spark, sf_dir).events
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("s"),
        F.sum(F.col("value") * F.col("value")).alias("ss"),
    )
    tot = g.agg(
        F.sum("n").alias("nn"),
        F.sum("s").alias("st"),
        F.count(F.lit(1)).alias("k"),
        F.sum(F.col("s") * F.col("s") / F.col("n")).alias("sb"),
        F.sum("ss").alias("sq"),
    )
    nn, st, k, sb, sq = (F.col(c) for c in ("nn", "st", "k", "sb", "sq"))
    f = ((sb - st * st / nn) / (k - 1)) / ((sq - sb) / (nn - k))
    return tot.select(
        k.cast("long").alias("k_groups"),
        nn.cast("long").alias("n"),
        F.round(f + 1e-9, 4).alias("f_stat"),
    )


_LLR_MIN_PAIR = 5


def _xlogx(e: str) -> str:
    """SQL fragment: x·ln(x) with the 0·ln0 = 0 convention."""
    return f"(CASE WHEN {e} > 0 THEN {e} * ln(CAST({e} AS DOUBLE)) ELSE 0.0 END)"


def _llr_oracle() -> str:
    cells = " + ".join(_xlogx(c) for c in ("k11", "k12", "k21", "k22"))
    rows = " + ".join(
        _xlogx(c) for c in ("(k11 + k12)", "(k21 + k22)", "(k11 + k21)", "(k12 + k22)")
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS_SQL} AS ts FROM documents),
    pos AS (
      SELECT doc_id, unnest(ts) AS tok,
             unnest(range(1, len(ts) + 1)) AS i
      FROM toks),
    posf AS (SELECT * FROM pos WHERE tok <> ''),
    pairs AS (
      SELECT a.tok AS w1, b.tok AS w2, CAST(count(*) AS BIGINT) AS n_pair
      FROM posf a JOIN posf b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      GROUP BY w1, w2),
    m1 AS (SELECT w1, sum(n_pair) AS c1 FROM pairs GROUP BY w1),
    m2 AS (SELECT w2, sum(n_pair) AS c2 FROM pairs GROUP BY w2),
    tot AS (SELECT sum(n_pair) AS nn FROM pairs),
    cells AS (
      SELECT p.w1, p.w2, p.n_pair,
             p.n_pair AS k11, m1.c1 - p.n_pair AS k12,
             m2.c2 - p.n_pair AS k21,
             tot.nn - m1.c1 - m2.c2 + p.n_pair AS k22,
             tot.nn AS nn
      FROM pairs p JOIN m1 USING (w1) JOIN m2 USING (w2) CROSS JOIN tot
      WHERE p.n_pair >= {_LLR_MIN_PAIR}),
    g AS (
      SELECT w1, w2, n_pair,
             round(2.0 * ({cells} + {_xlogx('nn')} - ({rows})) + 1e-9, 4)
               AS g2
      FROM cells)
    SELECT w1, w2, n_pair, g2
    FROM g ORDER BY g2 DESC, w1, w2 LIMIT 30
    """


@query("llr_collocations_topk", oracle=_llr_oracle())
def llr_collocations_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunning log-likelihood-ratio (G²) collocations over adjacent
    bigrams — the statistically sound replacement for raw-PMI ranking
    (PMI over-rewards rare pairs; G² weights evidence by count). The
    2×2 contingency per bigram uses the identity G² = 2·(Σ k·ln k +
    N·ln N − Σ marginal·ln marginal) with the 0·ln0 = 0 convention,
    evaluated identically on both engines; ties at the top-30 cutoff
    are decided on the ROUNDED statistic with (w1, w2) tiebreak.

    Pair generation is the registered PMI query's map-side zip (lag-1
    slice); the oracle generates pairs the orthogonal way (positional
    self-join) — structural double-entry. Scale shape: one
    (w1,w2)-keyed count, two vocab-sized marginal joins, a top-k."""
    docs = Tables(spark, sf_dir).documents
    ts = F.split(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " ")
    pair_expr = (
        "transform(sequence(1, greatest(size(ts) - 1, 0)), "
        "i -> struct(element_at(ts, i) AS w1, element_at(ts, i + 1) AS w2))"
    )
    pairs = (
        docs.select(ts.alias("ts"))
        # guard: sequence(1, 0) is DESCENDING in Spark ([1, 0]), so a
        # sub-2-token doc would index element_at(ts, 0) and crash; the
        # market-basket op documents the same landmine
        .where(F.size("ts") >= 2)
        .select(F.explode(F.expr(pair_expr)).alias("pr"))
        .select(F.col("pr.w1").alias("w1"), F.col("pr.w2").alias("w2"))
        .where((F.col("w1") != "") & (F.col("w2") != ""))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    m1 = pairs.groupBy("w1").agg(F.sum("n_pair").alias("c1"))
    m2 = pairs.groupBy("w2").agg(F.sum("n_pair").alias("c2"))
    tot = pairs.agg(F.sum("n_pair").alias("nn"))

    def xlogx(c):
        return F.when(c > 0, c * F.log(c.cast("double"))).otherwise(F.lit(0.0))

    k11 = F.col("n_pair")
    k12 = F.col("c1") - k11
    k21 = F.col("c2") - k11
    k22 = F.col("nn") - F.col("c1") - F.col("c2") + k11
    g2 = 2.0 * (
        xlogx(k11) + xlogx(k12) + xlogx(k21) + xlogx(k22)
        + xlogx(F.col("nn"))
        - xlogx(k11 + k12) - xlogx(k21 + k22)
        - xlogx(k11 + k21) - xlogx(k12 + k22)
    )
    return (
        pairs.where(F.col("n_pair") >= _LLR_MIN_PAIR)
        .join(F.broadcast(m1), "w1")
        .join(F.broadcast(m2), "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "n_pair", F.round(g2 + 1e-9, 4).alias("g2"))
        .orderBy(F.desc("g2"), "w1", "w2")
        .limit(30)
    )


_PACF_LAGS = (1, 2, 3)


def _pacf_oracle() -> str:
    acfs = []
    for k in _PACF_LAGS:
        acfs.append(f"""
    r{k} AS (
      SELECT (avg(a.rev * b.rev) - avg(a.rev) * avg(b.rev))
             / (sqrt(avg(a.rev * a.rev) - avg(a.rev) * avg(a.rev))
                * sqrt(avg(b.rev * b.rev) - avg(b.rev) * avg(b.rev))) AS r
      FROM daily a JOIN daily b ON b.dt = a.dt + to_days({k}))""")
    return f"""
    WITH daily AS (
      SELECT o_orderdate AS dt, sum(o_totalprice) AS rev
      FROM orders GROUP BY o_orderdate),{",".join(acfs)},
    dl AS (
      SELECT r1.r AS a1, r2.r AS a2, r3.r AS a3,
             (r2.r - r1.r * r1.r) / (1 - r1.r * r1.r) AS p2
      FROM r1, r2, r3),
    dl2 AS (
      SELECT a1, a2, a3, p2, a1 * (1 - p2) AS phi21 FROM dl)
    SELECT round(a1 + 1e-9, 4) AS pacf_1,
           round(p2 + 1e-9, 4) AS pacf_2,
           round((a3 - phi21 * a2 - p2 * a1)
                 / (1 - phi21 * a1 - p2 * a2) + 1e-9, 4) AS pacf_3
    FROM dl2
    """


@query("pacf_daily_revenue", oracle=_pacf_oracle())
def pacf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of daily revenue at lags 1-3 via the
    Durbin-Levinson recursion applied to the lag-pair Pearson ACF (the
    acf_daily_revenue convention — calendar joins, pairwise moments):
    pacf(2) strips lag-1 carry-through from r2, pacf(3) strips both.
    The AR-order diagnostic next to the registered ACF: a sharp pacf
    cutoff at lag p is the textbook AR(p) signature.

    Scale shape: three calendar-lag self-joins on the date-keyed frame
    (the ACF query's shape) reduced to three scalars; the recursion is
    literal arithmetic on one row."""
    o = Tables(spark, sf_dir).orders
    daily = o.groupBy(F.col("o_orderdate").alias("dt")).agg(
        F.sum("o_totalprice").alias("rev")
    )

    def acf_at(k: int):
        a, b = daily.alias("a"), daily.alias("b")
        x, y = F.col("a.rev"), F.col("b.rev")
        r = (F.avg(x * y) - F.avg(x) * F.avg(y)) / (
            F.sqrt(F.avg(x * x) - F.avg(x) * F.avg(x))
            * F.sqrt(F.avg(y * y) - F.avg(y) * F.avg(y))
        )
        return a.join(
            b, F.col("b.dt") == F.date_add(F.col("a.dt"), k)
        ).agg(r.alias(f"r{k}"))

    dl = (
        acf_at(1)
        .crossJoin(F.broadcast(acf_at(2)))
        .crossJoin(F.broadcast(acf_at(3)))
    )
    a1, a2, a3 = F.col("r1"), F.col("r2"), F.col("r3")
    p2 = (a2 - a1 * a1) / (1 - a1 * a1)
    phi21 = a1 * (1 - p2)
    p3 = (a3 - phi21 * a2 - p2 * a1) / (1 - phi21 * a1 - p2 * a2)
    return dl.select(
        F.round(a1 + 1e-9, 4).alias("pacf_1"),
        F.round(p2 + 1e-9, 4).alias("pacf_2"),
        F.round(p3 + 1e-9, 4).alias("pacf_3"),
    )


@query(
    "mutual_information_priority_status",
    oracle="""
    WITH xy AS (
      SELECT o_orderpriority AS x, o_orderstatus AS y,
             CAST(count(*) AS BIGINT) AS c
      FROM orders GROUP BY x, y),
    mx AS (SELECT x, sum(c) AS cx FROM xy GROUP BY x),
    my AS (SELECT y, sum(c) AS cy FROM xy GROUP BY y),
    tot AS (SELECT sum(c) AS n FROM xy),
    mi AS (
      SELECT sum((CAST(c AS DOUBLE) / tot.n)
                 * ln(CAST(c AS DOUBLE) * tot.n / (mx.cx * my.cy))) AS mi
      FROM xy JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot
      GROUP BY ALL HAVING TRUE),
    hx AS (SELECT -sum((CAST(cx AS DOUBLE) / tot.n)
                       * ln(CAST(cx AS DOUBLE) / tot.n)) AS h
           FROM mx CROSS JOIN tot),
    hy AS (SELECT -sum((CAST(cy AS DOUBLE) / tot.n)
                       * ln(CAST(cy AS DOUBLE) / tot.n)) AS h
           FROM my CROSS JOIN tot)
    SELECT round(mi.mi + 1e-9, 6) AS mi_nats,
           round(hx.h + 1e-9, 6) AS h_row,
           round(hy.h + 1e-9, 6) AS h_col,
           round(mi.mi / least(hx.h, hy.h) + 1e-9, 6) AS nmi
    FROM mi, hx, hy
    """,
)
def mutual_information_priority_status(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mutual information (nats) between order priority and status, with
    marginal entropies and the min-entropy-normalized NMI — the
    information-theoretic association measure next to the registered
    Cramér's V on the same contingency table (V is chi-square-scaled;
    MI weights by probability mass and feeds feature-selection
    pipelines directly). Only OBSERVED cells enter the sum, which is
    exactly the 0·ln0 convention.

    Scale shape: one (x,y)-keyed aggregate over the fact table, then
    everything is contingency-table-sized (≤ |X|·|Y| rows)."""
    o = Tables(spark, sf_dir).orders
    xy = o.groupBy(
        F.col("o_orderpriority").alias("x"), F.col("o_orderstatus").alias("y")
    ).agg(F.count(F.lit(1)).alias("c"))
    mx = xy.groupBy("x").agg(F.sum("c").alias("cx"))
    my = xy.groupBy("y").agg(F.sum("c").alias("cy"))
    tot = xy.agg(F.sum("c").alias("n"))
    mi = (
        xy.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                (F.col("c").cast("double") / F.col("n"))
                * F.log(
                    F.col("c").cast("double")
                    * F.col("n")
                    / (F.col("cx") * F.col("cy"))
                )
            ).alias("mi")
        )
    )
    hx = mx.crossJoin(F.broadcast(tot)).agg(
        (-F.sum(
            (F.col("cx").cast("double") / F.col("n"))
            * F.log(F.col("cx").cast("double") / F.col("n"))
        )).alias("h_row")
    )
    hy = my.crossJoin(F.broadcast(tot)).agg(
        (-F.sum(
            (F.col("cy").cast("double") / F.col("n"))
            * F.log(F.col("cy").cast("double") / F.col("n"))
        )).alias("h_col")
    )
    return (
        mi.crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
        .select(
            F.round(F.col("mi") + 1e-9, 6).alias("mi_nats"),
            F.round(F.col("h_row") + 1e-9, 6).alias("h_row"),
            F.round(F.col("h_col") + 1e-9, 6).alias("h_col"),
            F.round(
                F.col("mi") / F.least(F.col("h_row"), F.col("h_col")) + 1e-9, 6
            ).alias("nmi"),
        )
    )

# ---------------------------------------------------------------------------
# Third wave: QQ report, interarrival fit, burstiness, bipartite projection
# ---------------------------------------------------------------------------

_QQ_PS = [i / 10.0 for i in range(1, 10)]


def _qq_oracle() -> str:
    ps = ", ".join(str(p) for p in _QQ_PS)
    side = """
    g_{s} AS (
      SELECT value AS v, count(*) AS c FROM events
      WHERE event_type = '{t}' GROUP BY value),
    n_{s} AS (SELECT sum(c) AS n FROM g_{s}),
    cum_{s} AS (
      SELECT v, sum(c) OVER (ORDER BY v
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM g_{s}),
    q_{s} AS (
      SELECT p.p, min(cum_{s}.v) AS q
      FROM (SELECT unnest([{ps}]) AS p) p
      JOIN cum_{s} ON cum_{s}.cum >= ceil(p.p * (SELECT n FROM n_{s}))
      GROUP BY p.p)"""
    a = side.format(s="a", t="click", ps=ps)
    b = side.format(s="b", t="purchase", ps=ps)
    return f"""
    WITH {a}, {b}
    SELECT q_a.p AS p,
           round(q_a.q + 1e-9, 4) AS q_click,
           round(q_b.q + 1e-9, 4) AS q_purchase,
           round(q_b.q - q_a.q + 1e-9, 4) AS gap
    FROM q_a JOIN q_b ON q_a.p = q_b.p
    ORDER BY q_a.p
    """


@query("qq_deciles_click_purchase", oracle=_qq_oracle())
def qq_deciles_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-quantile report between click and purchase values at the
    nine deciles — WHERE the two distributions differ, the drill-down
    the scalar KS statistic (ks_test_value_click_purchase) motivates.
    Quantiles are discrete (smallest v with cumcount ≥ ceil(p·n)), so
    every reported value is an actual data point and the integer
    threshold rule is exact on both engines.

    Scale shape: per-side distinct-value aggregate, a DISTRIBUTED
    cumulative (``global_cumsum``), and a 9-row min-join — the
    histogram_quantile_sketch shape with exact discrete output."""
    e = Tables(spark, sf_dir).events
    ps = spark.createDataFrame([(p,) for p in _QQ_PS], "p double")

    def side(t: str, out: str) -> DataFrame:
        g = (
            e.filter(F.col("event_type") == t)
            .groupBy(F.col("value").alias("v"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        n = g.agg(F.sum("c").alias("n"))
        cum = global_cumsum(g, ["v"], "c", out="before").select(
            "v", (F.col("before") + F.col("c")).alias("cum")
        )
        return (
            F.broadcast(ps)
            .join(
                cum.crossJoin(F.broadcast(n)),
                F.col("cum") >= F.ceil(F.col("p") * F.col("n")),
            )
            .groupBy("p")
            .agg(F.min("v").alias(out))
        )
    qa, qb = side("click", "q_click"), side("purchase", "q_purchase")
    return (
        qa.join(qb, "p")
        .select(
            "p",
            F.round(F.col("q_click") + 1e-9, 4).alias("q_click"),
            F.round(F.col("q_purchase") + 1e-9, 4).alias("q_purchase"),
            F.round(F.col("q_purchase") - F.col("q_click") + 1e-9, 4).alias(
                "gap"
            ),
        )
        .orderBy("p")
    )


@query(
    "interarrival_exponential_fit",
    oracle="""
    WITH ev AS (
      SELECT user_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev
      FROM events),
    gaps AS (
      SELECT (epoch_us(ts) - epoch_us(prev)) / 1000000.0 AS g
      FROM ev WHERE prev IS NOT NULL AND epoch_us(ts) > epoch_us(prev)),
    dist AS (SELECT g, count(*) AS c FROM gaps GROUP BY g),
    n AS (SELECT sum(c) AS n, sum(g * c) AS s FROM dist),
    cum AS (
      SELECT g, c, sum(c) OVER (ORDER BY g
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM dist),
    ks AS (
      SELECT max(greatest(
               abs(cum / n.n - (1 - exp(-(n.n / n.s) * g))),
               abs((cum - c) / n.n - (1 - exp(-(n.n / n.s) * g))))) AS d
      FROM cum, n)
    SELECT CAST(n.n AS BIGINT) AS n_gaps,
           round(n.n / n.s + 1e-9, 6) AS lambda_per_s,
           round(n.s / n.n + 1e-9, 4) AS mean_gap_s,
           round(ks.d + 1e-9, 6) AS ks_d
    FROM n, ks
    """,
)
def interarrival_exponential_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Are user events a Poisson process? Fit Exponential(λ) to per-user
    interarrival gaps by MLE (λ = 1/mean) and report the KS distance
    between the empirical gap CDF and the fitted CDF — evaluated at
    every distinct gap with BOTH one-sided deviations (ECDF jumps, so
    the sup needs the pre-jump value too). Large ks_d = bursty/sessioned
    traffic, the usual rejection of the Poisson assumption.

    Scale shape: one per-user lag window (partitioned by user — no
    global sort), a distinct-gap aggregate, one cumulative over the
    gap-domain frame, a scalar fit. Zero-length gaps (same-timestamp
    events) are excluded — exponential support is strictly positive."""
    e = Tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = e.select(
        "user_id",
        "ts",
        F.lag("ts").over(w).alias("prev"),
    )
    gaps = (
        ev.filter(F.col("prev").isNotNull())
        .select(
            (
                F.timestamp_diff("MICROSECOND", F.col("prev"), F.col("ts"))
                / 1000000.0
            ).alias("g")
        )
        .filter(F.col("g") > 0)
    )
    dist = gaps.groupBy("g").agg(F.count(F.lit(1)).alias("c"))
    n = dist.agg(
        F.sum("c").alias("n"), F.sum(F.col("g") * F.col("c")).alias("s")
    )
    cum = global_cumsum(dist, ["g"], "c", out="before").select(
        "g", "c", (F.col("before") + F.col("c")).alias("cum")
    )
    lam = F.col("n") / F.col("s")
    fitted = 1 - F.exp(-lam * F.col("g"))
    ks = (
        cum.crossJoin(F.broadcast(n))
        .agg(
            F.max(
                F.greatest(
                    F.abs(F.col("cum") / F.col("n") - fitted),
                    F.abs((F.col("cum") - F.col("c")) / F.col("n") - fitted),
                )
            ).alias("d")
        )
    )
    return n.crossJoin(F.broadcast(ks)).select(
        F.col("n").cast("long").alias("n_gaps"),
        F.round(F.col("n") / F.col("s") + 1e-9, 6).alias("lambda_per_s"),
        F.round(F.col("s") / F.col("n") + 1e-9, 4).alias("mean_gap_s"),
        F.round(F.col("d") + 1e-9, 6).alias("ks_d"),
    )


@query(
    "fano_factor_by_event_type",
    oracle="""
    WITH span AS (
      SELECT epoch_us(min(ts)) // 3600000000 AS h0,
             epoch_us(max(ts)) // 3600000000 AS h1
      FROM events),
    hourly AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY event_type, h),
    per AS (
      SELECT event_type, sum(c) AS total, sum(c * c) AS sq,
             count(*) AS nz
      FROM hourly GROUP BY event_type),
    stats AS (
      SELECT event_type, total,
             span.h1 - span.h0 + 1 AS span_h,
             total / (span.h1 - span.h0 + 1.0) AS mu,
             (sq - total * total / (span.h1 - span.h0 + 1.0))
               / (span.h1 - span.h0) AS var
      FROM per, span)
    SELECT event_type,
           CAST(total AS BIGINT) AS n_events,
           CAST(span_h AS BIGINT) AS span_hours,
           round(var / mu + 1e-9, 4) AS fano,
           round((sqrt(var) - mu) / (sqrt(var) + mu) + 1e-9, 4)
             AS burstiness
    FROM stats ORDER BY event_type
    """,
)
def fano_factor_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (variance-to-mean of hourly counts) and the
    Goh-Barabási burstiness index (σ-μ)/(σ+μ) per event type — Poisson
    traffic sits at fano ≈ 1 / burstiness ≈ -something small; bots and
    campaign spikes push both up. Zero-count hours INSIDE the global
    [first, last] hour span are part of the distribution; their
    contribution is folded in algebraically (Σ(c-μ)² over the span =
    Σc² - total²/span, sample-variance denominator span-1), so no
    zero-row frame is ever materialized.

    Scale shape: one (type, hour)-keyed aggregate, then type-keyed
    rollups — the hourly frame is time-domain-sized. Contract: the
    events table must span >= 2 distinct hours (the sample-variance
    denominator is span-1). The hour index is
    exact integer microsecond arithmetic (NTZ-safe timestamp_diff from
    the epoch literal on the Spark side, epoch_us // on the oracle)."""
    e = Tables(spark, sf_dir).events
    hour = F.expr(
        "timestampdiff(MICROSECOND, "
        "CAST('1970-01-01 00:00:00' AS TIMESTAMP_NTZ), ts) div 3600000000"
    )
    hourly = e.groupBy(
        "event_type", hour.alias("h")
    ).agg(F.count(F.lit(1)).alias("c"))
    span = hourly.agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    per = hourly.groupBy("event_type").agg(
        F.sum("c").alias("total"),
        F.sum(F.col("c") * F.col("c")).alias("sq"),
    )
    sp = F.col("h1") - F.col("h0") + 1
    mu = F.col("total") / (F.col("h1") - F.col("h0") + 1.0)
    var = (F.col("sq") - F.col("total") * F.col("total") / (F.col("h1") - F.col("h0") + 1.0)) / (
        F.col("h1") - F.col("h0")
    )
    return (
        per.crossJoin(F.broadcast(span))
        .select(
            "event_type",
            F.col("total").cast("long").alias("n_events"),
            sp.cast("long").alias("span_hours"),
            F.round(var / mu + 1e-9, 4).alias("fano"),
            F.round(
                (F.sqrt(var) - mu) / (F.sqrt(var) + mu) + 1e-9, 4
            ).alias("burstiness"),
        )
        .orderBy("event_type")
    )


_BIPROJ_MIN_ORDERS = 2


@query(
    "bipartite_projection_suppliers",
    oracle=f"""
    WITH os AS (
      SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem),
    pairs AS (
      SELECT a.sk AS s1, b.sk AS s2, CAST(count(*) AS BIGINT) AS n_orders
      FROM os a JOIN os b ON a.ok = b.ok AND a.sk < b.sk
      GROUP BY s1, s2)
    SELECT s1, s2, n_orders
    FROM pairs WHERE n_orders >= {_BIPROJ_MIN_ORDERS}
    ORDER BY n_orders DESC, s1, s2 LIMIT 50
    """,
)
def bipartite_projection_suppliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bipartite projection of the order-supplier graph onto suppliers:
    supplier pairs co-occurring in >= 2 orders, strongest first —
    the co-purchasing / co-fulfillment network behind supplier
    clustering and substitution analysis. The within-order self-join is
    the standard projection; its output per order is bounded by the
    order's supplier-set size squared (TPC-H orders hold ≤ 7 lines), so
    the join never leaves the order-locality — at 100 TB this is one
    shuffle on orderkey and per-key local pair generation, exactly the
    market-basket shape (the registered basket op mines item pairs; this
    projects the other side of the bipartite graph).

    Top-k cutoff is decided on (n_orders, s1, s2) — all integers."""
    li = Tables(spark, sf_dir).lineitem
    os_ = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("sk")
    ).distinct()
    a, b = os_.alias("a"), os_.alias("b")
    pairs = (
        a.join(b, (F.col("a.ok") == F.col("b.ok")) & (F.col("a.sk") < F.col("b.sk")))
        .groupBy(
            F.col("a.sk").alias("s1"), F.col("b.sk").alias("s2")
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return (
        pairs.filter(F.col("n_orders") >= _BIPROJ_MIN_ORDERS)
        .orderBy(F.desc("n_orders"), "s1", "s2")
        .limit(50)
    )

# ---------------------------------------------------------------------------
# Fourth wave: Theil index, elasticity OLS, robust means, dup-cluster census,
# Kendall tau-b
# ---------------------------------------------------------------------------


@query(
    "theil_index_customer_revenue",
    oracle="""
    WITH per AS (
      SELECT o_custkey AS ck, sum(o_totalprice) AS x
      FROM orders GROUP BY o_custkey),
    tot AS (SELECT count(*) AS n, sum(x) AS s FROM per)
    SELECT CAST(tot.n AS BIGINT) AS n_customers,
           round(sum((x / (tot.s / tot.n)) * ln(x / (tot.s / tot.n)))
                 / tot.n + 1e-9, 6) AS theil_t,
           round(-sum(ln(x / (tot.s / tot.n))) / tot.n + 1e-9, 6) AS theil_l
    FROM per, tot GROUP BY tot.n, tot.s
    """,
)
def theil_index_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T and L (mean-log-deviation) inequality indices over
    customer revenue — the DECOMPOSABLE inequality family next to the
    registered Gini/Lorenz/HHI: Theil splits exactly into within-group
    + between-group terms, which is why large-scale corpus/revenue
    audits prefer it. T = (1/n)Σ(x/μ)ln(x/μ), L = (1/n)Σln(μ/x); both
    need only per-row terms against two broadcast scalars. Contract:
    x > 0 for every customer (revenue sums of positive prices).

    Scale shape: one customer-keyed aggregate, one broadcast of (n, s),
    one scalar aggregate — no sort anywhere."""
    o = Tables(spark, sf_dir).orders
    per = o.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.sum("o_totalprice").alias("x")
    )
    tot = per.agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("s"))
    mu = F.col("s") / F.col("n")
    r = F.col("x") / mu
    return (
        per.crossJoin(F.broadcast(tot))
        .agg(
            F.max("n").cast("long").alias("n_customers"),
            F.round((F.sum(r * F.log(r)) / F.max("n")) + 1e-9, 6).alias(
                "theil_t"
            ),
            F.round((-F.sum(F.log(r)) / F.max("n")) + 1e-9, 6).alias(
                "theil_l"
            ),
        )
    )


@query(
    "ols_log_elasticity_qty_price",
    oracle="""
    WITH daily AS (
      SELECT l_shipdate AS dt, ln(sum(l_quantity)) AS lq,
             ln(avg(l_extendedprice)) AS lp
      FROM lineitem GROUP BY l_shipdate)
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           round((avg(lp * lq) - avg(lp) * avg(lq))
                 / (avg(lp * lp) - avg(lp) * avg(lp)) + 1e-9, 4)
             AS elasticity,
           round(avg(lq) - (avg(lp * lq) - avg(lp) * avg(lq))
                 / (avg(lp * lp) - avg(lp) * avg(lp)) * avg(lp) + 1e-9, 4)
             AS intercept,
           round(pow(avg(lp * lq) - avg(lp) * avg(lq), 2)
                 / ((avg(lp * lp) - avg(lp) * avg(lp))
                    * (avg(lq * lq) - avg(lq) * avg(lq))) + 1e-9, 4)
             AS r_squared
    FROM daily
    """,
)
def ols_log_elasticity_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-log OLS of daily quantity on daily average price — the slope
    IS the price elasticity of demand, the intercept the log baseline,
    plus R². Closed-form moments only (cov/var of the logged series),
    identical fp sequence on both engines — the regression never
    materializes residuals.

    Scale shape: one date-keyed aggregate, one scalar moment aggregate.
    The elasticity estimate a 100 TB retail corpus needs costs exactly
    one groupBy."""
    li = Tables(spark, sf_dir).lineitem
    daily = li.groupBy(F.col("l_shipdate").alias("dt")).agg(
        F.log(F.sum("l_quantity")).alias("lq"),
        F.log(F.avg("l_extendedprice")).alias("lp"),
    )
    lp, lq = F.col("lp"), F.col("lq")
    cov = F.avg(lp * lq) - F.avg(lp) * F.avg(lq)
    varp = F.avg(lp * lp) - F.avg(lp) * F.avg(lp)
    varq = F.avg(lq * lq) - F.avg(lq) * F.avg(lq)
    slope = cov / varp
    return daily.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(slope + 1e-9, 4).alias("elasticity"),
        F.round(F.avg(lq) - slope * F.avg(lp) + 1e-9, 4).alias("intercept"),
        F.round(F.pow(cov, F.lit(2)) / (varp * varq) + 1e-9, 4).alias(
            "r_squared"
        ),
    )


_TRIM_P = 0.05  # symmetric trim/winsor fraction


@query(
    "trimmed_winsorized_mean_totalprice",
    oracle=f"""
    WITH g AS (
      SELECT o_totalprice AS v, count(*) AS c FROM orders GROUP BY v),
    n AS (SELECT sum(c) AS n FROM g),
    cum AS (
      SELECT v, c,
             coalesce(sum(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS before
      FROM g),
    lo AS (SELECT min(v) AS q FROM cum, n
           WHERE before + c >= ceil({_TRIM_P} * n.n)),
    hi AS (SELECT min(v) AS q FROM cum, n
           WHERE before + c >= ceil((1 - {_TRIM_P}) * n.n)),
    w AS (
      SELECT sum(c * CASE WHEN v < lo.q THEN lo.q
                          WHEN v > hi.q THEN hi.q ELSE v END) / n.n AS wmean
      FROM cum, lo, hi, n GROUP BY n.n),
    t AS (
      SELECT sum(CASE WHEN v >= lo.q AND v <= hi.q THEN c * v END)
             / sum(CASE WHEN v >= lo.q AND v <= hi.q THEN c END) AS tmean
      FROM cum, lo, hi)
    SELECT round((SELECT avg(o_totalprice) FROM orders) + 1e-9, 4) AS mean,
           round(t.tmean + 1e-9, 4) AS trimmed_mean,
           round(w.wmean + 1e-9, 4) AS winsorized_mean,
           round(lo.q + 1e-9, 4) AS p05, round(hi.q + 1e-9, 4) AS p95
    FROM t, w, lo, hi
    """,
)
def trimmed_winsorized_mean_totalprice(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Robust location report for order totalprice: the raw mean next to
    the 5% symmetric TRIMMED mean (drop the tails) and WINSORIZED mean
    (clamp the tails to the p05/p95 cut values) — the outlier-resistant
    aggregates a metrics pipeline publishes when the raw mean is
    tail-dominated. Cut points use the discrete quantile rule (smallest
    v with cumcount ≥ ceil(p·n) over the shared double p·n), so both
    engines pick identical actual data values; the trim keeps v in
    [p05, p95] inclusive.

    Scale shape: one distinct-value aggregate, one DISTRIBUTED cumsum
    (``global_cumsum``), two broadcast cut scalars, one conditional
    aggregate — never a global sort of the fact table."""
    o = Tables(spark, sf_dir).orders
    g = o.groupBy(F.col("o_totalprice").alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    n = g.agg(F.sum("c").alias("n"))
    cum = global_cumsum(g, ["v"], "c", out="before")

    def cut(p: float, out: str) -> DataFrame:
        return (
            cum.crossJoin(F.broadcast(n))
            .filter(
                F.col("before") + F.col("c") >= F.ceil(F.lit(p) * F.col("n"))
            )
            .agg(F.min("v").alias(out))
        )

    lo, hi = cut(_TRIM_P, "p05"), cut(1 - _TRIM_P, "p95")
    base = cum.crossJoin(F.broadcast(lo)).crossJoin(F.broadcast(hi)).crossJoin(
        F.broadcast(n)
    )
    v, c = F.col("v"), F.col("c")
    clamped = (
        F.when(v < F.col("p05"), F.col("p05"))
        .when(v > F.col("p95"), F.col("p95"))
        .otherwise(v)
    )
    inside = (v >= F.col("p05")) & (v <= F.col("p95"))
    agg = base.agg(
        (F.sum(c * clamped) / F.max("n")).alias("wmean"),
        (
            F.sum(F.when(inside, c * v)) / F.sum(F.when(inside, c))
        ).alias("tmean"),
        F.max("p05").alias("p05"),
        F.max("p95").alias("p95"),
    )
    mean = o.agg(F.avg("o_totalprice").alias("mean"))
    return agg.crossJoin(F.broadcast(mean)).select(
        F.round(F.col("mean") + 1e-9, 4).alias("mean"),
        F.round(F.col("tmean") + 1e-9, 4).alias("trimmed_mean"),
        F.round(F.col("wmean") + 1e-9, 4).alias("winsorized_mean"),
        F.round(F.col("p05") + 1e-9, 4).alias("p05"),
        F.round(F.col("p95") + 1e-9, 4).alias("p95"),
    )


@query(
    "dedup_cluster_size_histogram",
    oracle="""
    WITH fp AS (
      SELECT doc_id, md5(text) AS f FROM documents),
    sizes AS (SELECT f, CAST(count(*) AS BIGINT) AS sz FROM fp GROUP BY f)
    SELECT sz AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(sz) AS BIGINT) AS n_docs,
           CAST(sum(sz - 1) AS BIGINT) AS n_removable
    FROM sizes GROUP BY sz ORDER BY sz
    """,
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate cluster-size census: how many fingerprint
    clusters of each size exist, how many documents they hold, and how
    many a keep-one policy would remove — the capacity-planning report
    read BEFORE running the funnel (expected output size = Σ
    n_removable; a single giant cluster flags template spam). md5 over
    the raw text is the portable fingerprint both engines share.

    Scale shape: one fingerprint groupBy (16-byte keys — the exact_dedup
    shuffle), then a count-of-counts over the cluster-domain frame —
    the same collapse that makes good_turing cheap."""
    d = spread(Tables(spark, sf_dir).documents)
    sizes = d.select(F.md5("text").alias("f")).groupBy("f").agg(
        F.count(F.lit(1)).alias("sz")
    )
    return (
        sizes.groupBy("sz")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("sz").cast("long").alias("n_docs"),
            F.sum(F.col("sz") - 1).cast("long").alias("n_removable"),
        )
        .select(
            F.col("sz").cast("long").alias("cluster_size"),
            "n_clusters",
            "n_docs",
            "n_removable",
        )
        .orderBy("cluster_size")
    )


@query(
    "kendall_tau_daily_revenue",
    oracle="""
    WITH daily AS (
      SELECT o_orderdate AS dt, sum(o_totalprice) AS rev
      FROM orders GROUP BY o_orderdate),
    pairs AS (
      SELECT CASE WHEN b.rev > a.rev THEN 1
                  WHEN b.rev < a.rev THEN -1 ELSE 0 END AS sgn
      FROM daily a JOIN daily b ON b.dt > a.dt),
    s AS (SELECT CAST(sum(sgn) AS BIGINT) AS s_stat,
                 CAST(count(*) AS BIGINT) AS n0 FROM pairs),
    tx AS (SELECT coalesce(sum(c * (c - 1) / 2), 0) AS t1
           FROM (SELECT count(*) AS c FROM daily GROUP BY rev)
           WHERE c > 1)
    SELECT s.n0 AS n_pairs, s.s_stat,
           round(s.s_stat / sqrt((s.n0 - tx.t1) * CAST(s.n0 AS DOUBLE))
                 + 1e-9, 6) AS tau_b
    FROM s, tx
    """,
)
def kendall_tau_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between day order and daily revenue — the
    normalized effect size next to the registered Mann-Kendall test
    (MK's S says whether the trend is significant; tau-b says how
    strong it is, in [-1, 1]). The time axis is a total order (distinct
    dates — no ties), so tau-b's denominator reduces to
    sqrt((n0 - t_rev)·n0) with only the revenue-tie term; S and both
    tie counts are exact integers, one division at the end.

    Scale shape: the calendar-bounded pair frame shared with
    mann_kendall/theil_sen (~2.9M pairs at full calendar, flat in data
    volume) reduced to one integer, plus a tie scan of the daily
    frame."""
    o = Tables(spark, sf_dir).orders
    daily = o.groupBy(F.col("o_orderdate").alias("dt")).agg(
        F.sum("o_totalprice").alias("rev")
    )
    a, b = daily.alias("a"), daily.alias("b")
    sgn = (
        F.when(F.col("b.rev") > F.col("a.rev"), 1)
        .when(F.col("b.rev") < F.col("a.rev"), -1)
        .otherwise(0)
    )
    s = a.join(b, F.col("b.dt") > F.col("a.dt")).agg(
        F.sum(sgn).alias("s_stat"), F.count(F.lit(1)).alias("n0")
    )
    tx = (
        daily.groupBy("rev")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("c") * (F.col("c") - 1) / 2), F.lit(0)
            ).alias("t1")
        )
    )
    return s.crossJoin(F.broadcast(tx)).select(
        F.col("n0").alias("n_pairs"),
        "s_stat",
        F.round(
            F.col("s_stat")
            / F.sqrt(
                (F.col("n0") - F.col("t1")) * F.col("n0").cast("double")
            )
            + 1e-9,
            6,
        ).alias("tau_b"),
    )

# ---------------------------------------------------------------------------
# Fifth wave: graph diameter, embedding silhouette, knee-point detection
# ---------------------------------------------------------------------------

_DIAM_MAX_HOPS = 8


@query(
    "graph_diameter_trade",
    oracle=f"""
    WITH RECURSIVE und AS (
      SELECT DISTINCT least(s.s_nationkey, c.c_nationkey) AS a,
                      greatest(s.s_nationkey, c.c_nationkey) AS b
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE s.s_nationkey <> c.c_nationkey),
    sym AS (SELECT a AS u, b AS v FROM und
            UNION ALL SELECT b AS u, a AS v FROM und),
    walk(src, node, d) AS (
      SELECT a AS src, a AS node, 0 FROM (
        SELECT a FROM und UNION SELECT b FROM und) t(a)
      UNION
      SELECT w.src, s.v, w.d + 1
      FROM walk w JOIN sym s ON s.u = w.node
      WHERE w.d < {_DIAM_MAX_HOPS}),
    dist AS (SELECT src, node, min(d) AS d FROM walk GROUP BY src, node),
    ecc AS (SELECT src, CAST(max(d) AS BIGINT) AS eccentricity
            FROM dist GROUP BY src)
    SELECT CAST(src AS INTEGER) AS n_nationkey, eccentricity,
           (SELECT CAST(max(eccentricity) AS BIGINT) FROM ecc) AS diameter,
           (SELECT CAST(min(eccentricity) AS BIGINT) FROM ecc) AS radius
    FROM ecc ORDER BY n_nationkey
    """,
)
def graph_diameter_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node eccentricity plus graph diameter and radius of the
    undirected nation trade graph — the fourth graph primitive (after
    components, PageRank, triangles/clustering): multi-source BFS as a
    bounded frontier loop. Every round one hash join extends all 25
    BFS trees simultaneously and a min-aggregate collapses revisits;
    rounds are capped at {hops} (the diameter of any trade graph this
    dense is tiny, and the cap bounds the recursive oracle too).
    Contract: reports reachable-set eccentricities (the trade graph is
    connected; a disconnected input would understate them).

    Scale shape (r12 optimization round): the edge derivation is the
    shared fact-table join and stays fully distributed; the distinct
    undirected edge set is bounded at |nations|² at ANY scale, so the
    multi-source BFS runs in one bounded Arrow kernel on the collected
    edge aggregate (``operators.boundedgraph.eccentricity_udf`` —
    integer hop arithmetic, exact) instead of {hops} rounds of join +
    min-aggregate + DISK_ONLY checkpoint over ≤625-row frames. At
    billions of nodes you'd sample sources and keep the distributed
    loop; this query's graph is node-domain-bounded by construction."""
    from ror_etl_spark.operators.boundedgraph import eccentricity_udf

    t = Tables(spark, sf_dir)
    und = (
        t.lineitem.join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(t.supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .select(
            F.least("s_nationkey", "c_nationkey").alias("a"),
            F.greatest("s_nationkey", "c_nationkey").alias("b"),
        )
        .distinct()
    )
    one = und.agg(F.collect_list(F.struct("a", "b")).alias("es"))
    ecc = eccentricity_udf(_DIAM_MAX_HOPS)
    return (
        one.select(F.explode(ecc(F.col("es"))).alias("r"))
        .select(
            F.col("r.id").cast("int").alias("n_nationkey"),
            F.col("r.ecc").alias("eccentricity"),
            F.col("r.diameter").alias("diameter"),
            F.col("r.radius").alias("radius"),
        )
        # single partition (child of a single-row aggregate): a
        # partition-local sort IS the global sort; a plain orderBy would
        # range-sample and execute the Arrow kernel twice
        .coalesce(1)
        .sortWithinPartitions("n_nationkey")
    )


graph_diameter_trade.__doc__ = graph_diameter_trade.__doc__.format(
    hops=_DIAM_MAX_HOPS
)


@query(
    "embedding_silhouette_by_label",
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
    d AS (
      SELECT e.vec_id, e.label AS own, cent.label AS cl,
             sqrt(list_sum(list_transform(
               list_zip(e.v, cent.c), p -> (p[1] - p[2]) * (p[1] - p[2]))))
               AS dist
      FROM e CROSS JOIN cent),
    ab AS (
      SELECT vec_id, own,
             min(CASE WHEN cl = own THEN dist END) AS a,
             min(CASE WHEN cl <> own THEN dist END) AS b
      FROM d GROUP BY vec_id, own)
    SELECT CAST(own AS INTEGER) AS label,
           CAST(count(*) AS BIGINT) AS n_vectors,
           round(avg((b - a) / greatest(a, b)) + 1e-9, 4) AS mean_silhouette
    FROM ab GROUP BY own ORDER BY label
    """,
)
def embedding_silhouette_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid (simplified) silhouette per planted cluster label:
    a = distance to the OWN label centroid, b = distance to the nearest
    OTHER centroid, s = (b-a)/max(a,b) averaged per label — the cluster
    cohesion/separation report the full O(n²) silhouette approximates
    at scale (this is the medoid-free variant sklearn calls the
    per-centroid shortcut; exact silhouette is quadratic in n and never
    runs at 100 TB). Scores near 0 say the synthetic clusters are weak
    (they are, by construction — 0.07 centroid spread vs 0.125 noise).

    Scale shape: centroids are one (label, dim)-keyed aggregate
    (640 rows) broadcast back; each vector computes k=10 distances
    map-side; one label-keyed rollup. No pairwise anything."""
    emb = Tables(spark, sf_dir).embeddings
    e = emb.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    dims = (
        e.select(
            "label", F.posexplode("v").alias("i", "x")
        )
        .groupBy("label", "i")
        .agg(F.avg("x").alias("c"))
    )
    cent = dims.groupBy("label").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("i"), F.col("c")))
        ).alias("ic")
    ).select(
        F.col("label").alias("cl"),
        F.transform("ic", lambda s: s["c"]).alias("c"),
    )
    dist = F.sqrt(
        F.aggregate(
            F.zip_with("v", "c", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, z: acc + z,
        )
    )
    d = e.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        F.col("label").alias("own"),
        "cl",
        dist.alias("dist"),
    )
    ab = d.groupBy("vec_id", "own").agg(
        F.min(F.when(F.col("cl") == F.col("own"), F.col("dist"))).alias("a"),
        F.min(F.when(F.col("cl") != F.col("own"), F.col("dist"))).alias("b"),
    )
    s = (F.col("b") - F.col("a")) / F.greatest("a", "b")
    return (
        ab.groupBy("own")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.round(F.avg(s) + 1e-9, 4).alias("mean_silhouette"),
        )
        .select(
            F.col("own").cast("int").alias("label"),
            "n_vectors",
            "mean_silhouette",
        )
        .orderBy("label")
    )


@query(
    "knee_point_customer_revenue",
    oracle="""
    WITH per AS (
      SELECT o_custkey AS ck, sum(o_totalprice) AS x
      FROM orders GROUP BY o_custkey),
    r AS (
      SELECT x, ck,
             row_number() OVER (ORDER BY x, ck) AS i,
             sum(x) OVER (ORDER BY x, ck
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM per),
    ends AS (
      SELECT max(i) AS n, sum(x) AS tot,
             min(CASE WHEN i = 1 THEN cum END) AS y1
      FROM r),
    scored AS (
      SELECT r.i, r.cum,
             round(abs((ends.tot - ends.y1) * (r.i - 1)
                 - (ends.n - 1) * (r.cum - ends.y1)) + 1e-9, 6) AS cross_d
      FROM r, ends)
    SELECT CAST(ends.n AS BIGINT) AS n_customers,
           CAST(s.i AS BIGINT) AS knee_rank,
           round(s.i / CAST(ends.n AS DOUBLE) + 1e-9, 4) AS knee_rank_share,
           round(s.cum / ends.tot + 1e-9, 4) AS knee_cum_share
    FROM ends,
         (SELECT i, cum FROM scored ORDER BY cross_d DESC, i LIMIT 1) s
    """,
)
def knee_point_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Knee/elbow of the cumulative customer-revenue curve (Kneedle's
    max-distance-to-chord rule): rank customers by revenue, draw the
    chord from the first to the last point of the cumulative curve, and
    report the rank with the maximum perpendicular distance — "below
    this rank, customers are the undifferentiated tail". The distance
    ordering uses the UNNORMALIZED cross product (the chord norm is
    constant, so argmax is identical) and the cumulative sums are
    ORDER-FIXED (ascending (x, ck)), so both engines walk the same fp
    sequence and the argmax cannot flap; ties break on the lower rank.

    Scale shape: one customer-keyed aggregate, one distributed rank +
    ordered cumsum (``global_rank``/``global_cumsum``), two broadcast
    scalars, a TakeOrdered(1)."""
    o = Tables(spark, sf_dir).orders
    per = o.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.sum("o_totalprice").alias("x")
    )
    ranked = global_rank(per, "x", "ck", out="i0")
    r = global_cumsum(ranked, ["x", "ck"], "x", out="before").select(
        (F.col("i0") + 1).alias("i"),
        (F.col("before") + F.col("x")).alias("cum"),
        "x",
    )
    ends = r.agg(
        F.max("i").alias("n"),
        F.sum("x").alias("tot"),
        F.min(F.when(F.col("i") == 1, F.col("cum"))).alias("y1"),
    )
    scored = r.crossJoin(F.broadcast(ends)).select(
        "i",
        "cum",
        "n",
        "tot",
        # round-before-rank (repo discipline; ADVICE r9): the argmax
        # must not hinge on ULP differences between the engines'
        # summation orders, so quantize the score before the ORDER BY.
        F.round(
            F.abs(
                (F.col("tot") - F.col("y1")) * (F.col("i") - 1)
                - (F.col("n") - 1) * (F.col("cum") - F.col("y1"))
            )
            + 1e-9,
            6,
        ).alias("cross_d"),
    )
    knee = scored.orderBy(F.desc("cross_d"), F.asc("i")).limit(1)
    return knee.select(
        F.col("n").cast("long").alias("n_customers"),
        F.col("i").cast("long").alias("knee_rank"),
        F.round(F.col("i") / F.col("n").cast("double") + 1e-9, 4).alias(
            "knee_rank_share"
        ),
        F.round(F.col("cum") / F.col("tot") + 1e-9, 4).alias("knee_cum_share"),
    )
