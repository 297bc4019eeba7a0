"""Statistics, graph and sketch operators: Good-Turing word smoothing,
seasonal-naive backtests, Theil-Sen and Mann-Kendall trend tests, the
Wald-Wolfowitz runs test, ACF, Cramér's V and Levene's test, Gini and
Herfindahl concentration, hierarchy depth layers, label-propagation
communities and k-core on the trade graph, HLL sketch intersection, and
Johnson-Lindenstrauss projection distortion.

Each entry follows the registry discipline (registry.py module
docstring): aliases identical on both sides, epsilon-rounded floats,
deterministic tiebreaks. ``tests/test_staged_r9.py`` runs the same
Spark-vs-DuckDB comparison the driver gate does.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

# Loop-internal checkpoint blocks go to DISK, not storage memory:
# the r9 sf0.1 endurance sweep showed memory-backed checkpoint
# blocks accumulating across queries faster than the async
# ContextCleaner reaps them, starving later broadcast builds
# (NOTES.md r9; pinned by tests/test_checkpoint_discipline.py).
_DISK_ONLY = StorageLevel.DISK_ONLY

from ror_etl_spark.operators.util import spread
from ror_etl_spark.queries.corpusops import _TOKS_SQL
from ror_etl_spark.functions.text import tokens
from ror_etl_spark.registry import query
from ror_etl_spark.tables import Tables

@query(
    "good_turing_word_smoothing",
    oracle=f"""
    WITH wc AS (
      SELECT w, count(*) AS c
      FROM (SELECT unnest({_TOKS_SQL}) AS w FROM documents)
      WHERE w <> '' GROUP BY w),
    s AS (SELECT c AS r, CAST(count(*) AS BIGINT) AS n_types FROM wc GROUP BY c)
    SELECT CAST(s.r AS BIGINT) AS r,
           s.n_types,
           round((s.r + 1) * s2.n_types / s.n_types + 1e-9, 4) AS r_star
    FROM s LEFT JOIN s s2 ON s2.r = s.r + 1
    ORDER BY r
    """,
)
def good_turing_word_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing frequency smoothing over the corpus unigram counts:
    S(r) = number of word types seen exactly r times, and the adjusted
    count r* = (r+1)·S(r+1)/S(r) — the classical estimator every
    language-model smoother (Katz backoff, simple GT) starts from.
    r* is NULL where S(r+1)=0 (the raw estimator is undefined there;
    production smoothers regress log S(r) — out of scope for the
    frequency table itself).

    Scale shape: one corpus-sized word-count aggregate (the same pass
    the BPE trainer makes), then a count-of-counts aggregate over the
    VOCABULARY-sized table and a self-join on the count-domain-sized
    S(r) table (hundreds of rows at any corpus size — frequency of
    frequencies collapses Heaps-law vocabularies)."""
    d = spread(Tables(spark, sf_dir).documents)
    wc = (
        d.select(F.explode(tokens(F.col("text"))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    s = wc.groupBy(F.col("c").alias("r")).agg(F.count(F.lit(1)).alias("n_types"))
    s2 = s.select((F.col("r") - 1).alias("r"), F.col("n_types").alias("n_next"))
    return (
        s.join(s2, "r", "left")
        .select(
            "r",
            "n_types",
            F.round(
                (F.col("r") + 1) * F.col("n_next") / F.col("n_types") + 1e-9, 4
            ).alias("r_star"),
        )
        .orderBy("r")
    )


@query(
    "seasonal_naive_backtest",
    oracle="""
    WITH daily AS (
      SELECT o_orderdate AS dt, sum(o_totalprice) AS rev
      FROM orders GROUP BY o_orderdate),
    fc AS (
      SELECT a.dt, a.rev, b.rev AS pred
      FROM daily a JOIN daily b ON a.dt = b.dt + INTERVAL 7 DAY)
    SELECT CAST(date_diff('day', DATE '1970-01-01', dt) % 7 AS BIGINT) AS weekday,
           CAST(count(*) AS BIGINT) AS n_days,
           round(avg(abs(rev - pred) / rev) + 1e-9, 4) AS mape,
           round(avg(pred - rev) + 1e-9, 2) AS bias
    FROM fc
    GROUP BY weekday ORDER BY weekday
    """,
)
def seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest — the baseline every revenue
    forecaster must beat: predict each day's revenue as the revenue
    seven CALENDAR days earlier (a dt−7d self-join, not a 7-ROW lag —
    the daily frame has calendar gaps, and a row lag would compare
    different weekdays; caught in the r8 diff review), then score per
    weekday (MAPE + signed bias). Days whose dt−7d has no orders drop
    out, the standard backtest convention. Weekday is days-since-epoch
    mod 7, integer-exact on both engines (same convention as
    timeseries_decompose_weekday).

    Scale shape: one date-keyed aggregate is the only corpus-sized
    work; the self-join and scoring run on the calendar-bounded daily
    frame and a 7-row aggregate."""
    o = Tables(spark, sf_dir).orders
    daily = o.groupBy(F.col("o_orderdate").alias("dt")).agg(
        F.sum("o_totalprice").alias("rev")
    )
    prior = daily.select(
        (F.col("dt") + F.expr("INTERVAL 7 DAYS")).alias("dt"),
        F.col("rev").alias("pred"),
    )
    fc = daily.join(prior, "dt")
    weekday = F.datediff(F.col("dt"), F.lit("1970-01-01").cast("date")) % 7
    return (
        fc.groupBy(weekday.cast("long").alias("weekday"))
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(
                F.avg(F.abs(F.col("rev") - F.col("pred")) / F.col("rev")) + 1e-9, 4
            ).alias("mape"),
            F.round(F.avg(F.col("pred") - F.col("rev")) + 1e-9, 2).alias("bias"),
        )
        .orderBy("weekday")
    )


def _theil_sen_median_udf():
    """Arrow kernel computing the exact median of all pairwise slopes of
    ONE row holding the collected daily series — the r12 optimization-
    round rewrite of the theta self-join + JVM ``percentile`` aggregate.

    Why this is safe at any scale: the daily frame is CALENDAR-bounded
    (~2.4k rows for 7 years regardless of fact-table size — the same
    bounded-aggregate argument as ``_pr_trajectory_udf``); the heavy,
    data-sized work (the orders date aggregate) stays fully distributed,
    and only the bounded (day_idx, rev) list crosses into the kernel.
    The old plan generated the ~2.9M-pair slope stream with a
    BroadcastNestedLoopJoin and fed it to ``percentile``, whose exact
    implementation builds an OpenHashMap of every distinct double and
    sorts it in one final reducer — 8.7 of the query's 9.2 s at sf0.1
    (r12 measurement, OPTIMIZATION_r12.md).

    Exactness: slopes are the same IEEE float64 divisions on the rev
    values the distributed aggregate produced; the median reproduces
    ``Percentile.getPercentile`` literally — position = 0.5·(n−1),
    result = (hi−pos)·s[lo] + (pos−lo)·s[hi] — verified bit-identical
    to the JVM aggregate at all three test SFs before the swap."""
    import math

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<struct<slope: double, n_pairs: bigint>>")
    def med(ds: pd.Series) -> pd.Series:
        out = []
        for series in ds:
            idx = np.array([r["day_idx"] for r in series], dtype=np.int64)
            rev = np.array([r["rev"] for r in series], dtype=np.float64)
            order = np.argsort(idx)
            idx, rev = idx[order], rev[order]
            i, j = np.triu_indices(len(idx), k=1)
            s = np.sort((rev[j] - rev[i]) / (idx[j] - idx[i]))
            n = len(s)
            pos = 0.5 * (n - 1)
            lo, hi = math.floor(pos), math.ceil(pos)
            m = s[lo] if lo == hi else (hi - pos) * s[lo] + (pos - lo) * s[hi]
            out.append([{"slope": float(m), "n_pairs": n}])
        return pd.Series(out)

    # asNondeterministic: stops Catalyst duplicating the Arrow eval (same
    # reason as the pagerank/similarity kernels).
    return med.asNondeterministic()



@query(
    "theil_sen_daily_revenue",
    oracle="""
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01', o_orderdate) AS day_idx,
             sum(o_totalprice) AS rev
      FROM orders GROUP BY o_orderdate),
    slopes AS (
      SELECT (b.rev - a.rev) / (b.day_idx - a.day_idx) AS slope
      FROM daily a JOIN daily b ON b.day_idx > a.day_idx),
    sl AS (SELECT round(quantile_cont(slope, 0.5) + 1e-9, 4) AS slope
           FROM slopes)
    SELECT CAST((SELECT count(*) FROM daily) AS BIGINT) AS n_days,
           CAST((SELECT count(*) FROM slopes) AS BIGINT) AS n_pairs,
           sl.slope,
           round(quantile_cont(d.rev - sl.slope * d.day_idx, 0.5) + 1e-9, 2)
             AS intercept
    FROM daily d, sl
    GROUP BY sl.slope
    """,
)
def theil_sen_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend: the median of all pairwise slopes of the
    daily-revenue series, plus the matching median intercept — the
    outlier-proof alternative to OLS for drift monitoring (29% breakdown
    point vs OLS's zero). The slope is quantized BEFORE the intercept
    pass so the second median sees identical inputs on both engines.

    Scale shape: the corpus-sized work is one date-keyed aggregate; the
    pairwise slope median runs in one bounded Arrow kernel over the
    CALENDAR-bounded daily list (~2.4k days → ~3M slope pairs at 7
    years, flat in data volume — see ``_theil_sen_median_udf``), and the
    intercept median interpolates over the same bounded daily frame
    (exact percentile, not a sketch — the estimator's definition)."""
    o = Tables(spark, sf_dir).orders
    daily = (
        o.groupBy(F.col("o_orderdate").alias("dt"))
        .agg(F.sum("o_totalprice").alias("rev"))
        .select(
            F.datediff(F.col("dt"), F.lit("1970-01-01").cast("date"))
            .cast("long")
            .alias("day_idx"),
            "rev",
        )
    )
    med = _theil_sen_median_udf()
    one = daily.agg(
        F.collect_list(F.struct("day_idx", "rev")).alias("ds")
    ).select(F.element_at(med(F.col("ds")), 1).alias("m"))
    sl = one.select(
        F.round(F.col("m.slope") + 1e-9, 4).alias("slope"),
        F.col("m.n_pairs").alias("n_pairs"),
    )
    return (
        daily.crossJoin(F.broadcast(sl))
        .groupBy("slope", "n_pairs")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(
                F.expr("percentile(rev - slope * day_idx, 0.5)") + 1e-9, 2
            ).alias("intercept"),
        )
        .select("n_days", "n_pairs", "slope", "intercept")
    )


@query(
    "hierarchy_depth_layers",
    oracle="""
    SELECT CAST(o_orderkey + 1 AS BIGINT) AS id,
           CAST(o_orderkey % 10 AS BIGINT) AS layer
    FROM orders
    ORDER BY id
    """,
)
def hierarchy_depth_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topological LAYER of every node in the parent forest (its depth
    below the root — what a Kahn peel emits round by round): the rollup
    kernel's doubling recurrence extended to carry hop COUNTS, so depth
    resolves in ⌈log2 depth⌉ shuffles instead of depth peel rounds.
    Each doubling step jumps anc → anc's anc and adds the jumped-over
    hop count; roots self-loop with 0 hops, so the sum converges to the
    exact depth. Oracle is the forest's closed form (chains of 10 —
    see queries/graph.py): depth = (id-1) mod 10.

    Scale shape: identical to ultimate_parent_rollup — log-depth
    iterations of one join each over a 3-column frame."""
    from ror_etl_spark.queries.graph import synthetic_edges

    edges = synthetic_edges(spark, sf_dir)
    m = edges.select(
        "id",
        F.col("parent").alias("anc"),
        F.when(F.col("parent") == F.col("id"), F.lit(0))
        .otherwise(F.lit(1))
        .cast("long")
        .alias("steps"),
    ).localCheckpoint(eager=False)
    for _ in range(4):  # chains are 10 deep; 2^4 = 16 covers them
        hop = m.select(
            F.col("id").alias("h_id"),
            F.col("anc").alias("h_anc"),
            F.col("steps").alias("h_steps"),
        )
        m = (
            m.join(hop, m["anc"] == hop["h_id"], "left")
            .select(
                m["id"],
                F.coalesce(hop["h_anc"], m["anc"]).alias("anc"),
                (m["steps"] + F.coalesce(hop["h_steps"], F.lit(0))).alias("steps"),
            )
            .localCheckpoint(eager=False, storageLevel=_DISK_ONLY)
        )
    return m.select("id", F.col("steps").alias("layer")).orderBy("id")


_LPA_ROUNDS = 3


def _lpa_oracle(rounds: int = _LPA_ROUNDS) -> str:
    ctes = [
        """edges AS (
      SELECT s.s_nationkey AS u, c.c_nationkey AS v, CAST(count(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY u, v)""",
        """und AS (
      SELECT u, v, w FROM edges UNION ALL
      SELECT v AS u, u AS v, w FROM edges)""",
        """nodes AS (SELECT n_nationkey AS id FROM nation)""",
        """l0 AS (SELECT id, id AS label FROM nodes)""",
    ]
    for i in range(rounds):
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
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CAST(id AS BIGINT) AS nationkey, CAST(label AS BIGINT) AS community
    FROM l{rounds}
    ORDER BY nationkey
    """
    )


@query("label_propagation_communities", oracle=_lpa_oracle())
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (community detection) on the
    undirected nation trade graph: every node starts as its own label;
    each round it adopts the label with the greatest incident edge
    weight among its neighbours (tiebreak: smallest label — the
    determinism knob async LPA lacks). Three fixed rounds, so the DuckDB
    oracle replays the trajectory round for round, exactly like the
    PageRank twin.

    Scale shape: per round ONE shuffle — labels join edges on the
    neighbour key and re-aggregate at the node (weights are integer
    counts, so the argmax is exact); labels are node-sized, edges are
    the big table, same plan as pagerank_nation_trade."""
    t = Tables(spark, sf_dir)
    edges = (
        t.lineitem.join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(t.supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("s_nationkey").alias("u"), F.col("c_nationkey").alias("v"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    und = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
    ).localCheckpoint(eager=False)
    nodes = t.nation.select(F.col("n_nationkey").alias("id"))
    labels = nodes.select("id", F.col("id").alias("label"))
    from pyspark.sql import Window

    for _ in range(_LPA_ROUNDS):
        votes = (
            und.join(labels, und["v"] == labels["id"])
            .groupBy(und["u"].alias("nid"), "label")
            .agg(F.sum("w").alias("wt"))
        )
        pick = (
            votes.withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("nid").orderBy(
                        F.desc("wt"), F.asc("label")
                    )
                ),
            )
            .filter(F.col("rn") == 1)
            .select("nid", "label")
        )
        labels = nodes.join(pick, nodes["id"] == pick["nid"], "left").select(
            "id", F.coalesce(pick["label"], nodes["id"]).alias("label")
        )
    return labels.select(
        F.col("id").cast("long").alias("nationkey"),
        F.col("label").cast("long").alias("community"),
    ).orderBy("nationkey")


@query(
    "runs_test_daily_revenue",
    oracle="""
    WITH daily AS (
      SELECT o_orderdate AS dt, sum(o_totalprice) AS rev
      FROM orders GROUP BY o_orderdate),
    med AS (SELECT quantile_cont(rev, 0.5) AS m FROM daily),
    signs AS (
      SELECT dt, rev > med.m AS up FROM daily, med WHERE rev <> med.m),
    runs AS (
      SELECT up, CASE WHEN up <> lag(up) OVER (ORDER BY dt) THEN 1 ELSE 0 END
               AS flip
      FROM signs),
    cnt AS (
      SELECT CAST(sum(CASE WHEN up THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN up THEN 0 ELSE 1 END) AS BIGINT) AS n2,
             CAST(coalesce(sum(flip), 0) + 1 AS BIGINT) AS r
      FROM runs)
    SELECT n1 AS n_above, n2 AS n_below, r AS n_runs,
           round(2.0 * n1 * n2 / (n1 + n2) + 1.0 + 1e-9, 4) AS mu,
           round((r - (2.0 * n1 * n2 / (n1 + n2) + 1.0))
                 / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0)))
                 + 1e-9, 4) AS z
    FROM cnt
    """,
)
def runs_test_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test for randomness of the daily-revenue
    series: sign each day against the exact median, count sign RUNS in
    date order, and standardize against the null mean/variance — too few
    runs means trending/regime behaviour, too many means oscillation.
    Days exactly at the (interpolated) median are excluded, the standard
    convention. All counts integer-exact; mu/z epsilon-rounded.

    Scale shape: one date-keyed aggregate, then a calendar-bounded
    window over the daily frame and a single scalar aggregate."""
    from pyspark.sql import Window

    o = Tables(spark, sf_dir).orders
    daily = o.groupBy(F.col("o_orderdate").alias("dt")).agg(
        F.sum("o_totalprice").alias("rev")
    )
    med = daily.agg(F.expr("percentile(rev, 0.5)").alias("m"))
    signs = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("rev") != F.col("m"))
        .select("dt", (F.col("rev") > F.col("m")).alias("up"))
    )
    runs = signs.select(
        "up",
        F.when(
            F.col("up") != F.lag("up").over(Window.orderBy("dt")), 1
        )
        .otherwise(0)
        .alias("flip"),
    )
    cnt = runs.agg(
        F.sum(F.when(F.col("up"), 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("up"), 0).otherwise(1)).alias("n2"),
        (F.coalesce(F.sum("flip"), F.lit(0)) + 1).alias("r"),
    )
    n1, n2, r = F.col("n1"), F.col("n2"), F.col("r")
    mu = 2.0 * n1 * n2 / (n1 + n2) + 1.0
    sigma = F.sqrt(
        2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))
    )
    return cnt.select(
        n1.alias("n_above"),
        n2.alias("n_below"),
        r.alias("n_runs"),
        F.round(mu + 1e-9, 4).alias("mu"),
        F.round((r - mu) / sigma + 1e-9, 4).alias("z"),
    )


_KCORE_K = 2
_KCORE_ROUNDS = 6


def _kcore_oracle(k: int = _KCORE_K, rounds: int = _KCORE_ROUNDS) -> str:
    ctes = [
        """edges AS (
      SELECT s.s_nationkey AS u, c.c_nationkey AS v, CAST(count(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE s.s_nationkey <> c.c_nationkey
      GROUP BY u, v)""",
        """med AS (SELECT quantile_cont(w, 0.5) AS m FROM edges)""",
        """heavy AS (SELECT u, v FROM edges, med WHERE w > med.m)""",
        # MATERIALIZED: every round references the previous survivor set
        # TWICE (both endpoints), so default CTE inlining would copy the
        # whole upstream join 2^rounds times — the SQL twin of the
        # per-round localCheckpoint on the Spark side.
        """und AS MATERIALIZED (
      SELECT u, v FROM heavy UNION SELECT v AS u, u AS v FROM heavy)""",
        """s0 AS MATERIALIZED (SELECT DISTINCT u AS id FROM und)""",
    ]
    for i in range(rounds):
        ctes.append(
            f"""s{i + 1} AS MATERIALIZED (
      SELECT e.u AS id
      FROM und e
      JOIN s{i} a ON a.id = e.u
      JOIN s{i} b ON b.id = e.v
      GROUP BY e.u
      HAVING count(*) >= {k})"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CAST(e.u AS BIGINT) AS nationkey,
           CAST(count(*) AS BIGINT) AS core_degree
    FROM und e
    JOIN s{rounds} a ON a.id = e.u
    JOIN s{rounds} b ON b.id = e.v
    GROUP BY e.u
    ORDER BY nationkey
    """
    )


def _kcore_udf(k: int, rounds: int):
    """Arrow kernel replaying the median sparsifier and the fixed peel
    rounds on ONE row holding the collected nation-pair edge aggregate
    — the r12 optimization-round rewrite of the per-round semi-join +
    degree-count loop (the bounded-graph kernel precedent; the edge
    aggregate is bounded at |nations|² at ANY fact-table scale, and the
    data-sized fact join + groupBy stay fully distributed).

    Exactness: the median threshold replicates
    ``Percentile.getPercentile`` literally — position = 0.5·(n−1),
    (hi−pos)·s[lo] + (pos−lo)·s[hi] in float64, the same formula
    verified bit-identical to the JVM aggregate for the Theil-Sen
    kernel — and everything after the w > m filter is integer set/count
    arithmetic."""
    import math

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<struct<nationkey: bigint, core_degree: bigint>>")
    def kcore(es: pd.Series) -> pd.Series:
        out = []
        for edge_list in es:
            ws = sorted(float(e["w"]) for e in edge_list)
            n = len(ws)
            if n == 0:
                out.append([])
                continue
            pos = 0.5 * (n - 1)
            lo, hi = math.floor(pos), math.ceil(pos)
            m = ws[lo] if lo == hi else (hi - pos) * ws[lo] + (pos - lo) * ws[hi]
            und = set()
            for e in edge_list:
                if float(e["w"]) > m:
                    und.add((e["u"], e["v"]))
                    und.add((e["v"], e["u"]))
            surv = {u for u, _ in und}
            for _ in range(rounds):
                deg: dict = {}
                for u, v in und:
                    if u in surv and v in surv:
                        deg[u] = deg.get(u, 0) + 1
                surv = {u for u, d in deg.items() if d >= k}
            final: dict = {}
            for u, v in und:
                if u in surv and v in surv:
                    final[u] = final.get(u, 0) + 1
            out.append(
                [
                    {"nationkey": int(u), "core_degree": d}
                    for u, d in final.items()
                ]
            )
        return pd.Series(out)

    return kcore.asNondeterministic()


@query("kcore_trade_graph", oracle=_kcore_oracle())
def kcore_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition peel (k=2) of the HEAVY nation trade graph:
    keep only edges with weight strictly above the median edge weight
    (the sparsifier that makes the core non-trivial on a dense trade
    graph), then iteratively delete nodes whose surviving degree is
    below k. Six synchronous peel rounds, fixed on BOTH engines —
    peeling past the fixpoint is idempotent, so engine and oracle agree
    whether or not the peel converged early. Output: the surviving core
    with each node's in-core degree.

    Scale shape (r12 optimization round): the corpus-sized work — the
    fact join and the nation-pair edge aggregate — stays fully
    distributed; the aggregate is bounded at |nations|² at ANY scale,
    so the median sparsifier and the six peel rounds run in one
    bounded Arrow kernel on the collected edge aggregate
    (``_kcore_udf`` — exact integer peel arithmetic, median threshold
    bit-replicating the JVM percentile) instead of six rounds of two
    semi-joins + degree count + DISK_ONLY checkpoint over ≤25-node
    frames. At scale with an edge-partitioned adjacency you run the
    distributed peel loop; this query's graph is node-domain-bounded
    by construction."""
    t = Tables(spark, sf_dir)
    edges = (
        t.lineitem.join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(t.supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(F.col("s_nationkey").alias("u"), F.col("c_nationkey").alias("v"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    one = edges.agg(F.collect_list(F.struct("u", "v", "w")).alias("es"))
    kcore = _kcore_udf(_KCORE_K, _KCORE_ROUNDS)
    return (
        one.select(F.explode(kcore(F.col("es"))).alias("r"))
        .select("r.nationkey", "r.core_degree")
        # single partition (child of a single-row aggregate): a
        # partition-local sort IS the global sort; a plain orderBy would
        # range-sample and execute the Arrow kernel twice
        .coalesce(1)
        .sortWithinPartitions("nationkey")
    )


# register geometry imported from the registered portable-HLL recipe so a
# retune there can never silently diverge from this intersection query
from ror_etl_spark.queries.sketches import _HLL_M, _HLL_SCALE  # noqa: E402

_HLL_A = "click"
_HLL_B = "purchase"


@query(
    "hll_intersection_click_purchase",
    oracle=f"""
    WITH ev AS (
      SELECT event_type AS seg, user_id FROM events
      WHERE event_type IN ('{_HLL_A}', '{_HLL_B}')),
    h AS (
      SELECT seg, user_id,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT AS h
      FROM ev),
    r AS (
      SELECT seg, h >> 44 AS idx,
             CASE WHEN (h & {(1 << 44) - 1}) = 0 THEN 45
                  ELSE 45 - length(bin(h & {(1 << 44) - 1})) END AS rho
      FROM h),
    segregs AS (SELECT seg, idx, max(rho) AS m FROM r GROUP BY seg, idx),
    regs AS (
      SELECT seg, idx, m FROM segregs
      UNION ALL
      SELECT 'UNION' AS seg, idx, max(m) AS m FROM segregs GROUP BY idx),
    agg AS (
      SELECT seg,
             CAST(sum(1::BIGINT << (45 - m)) AS BIGINT)
               + ({_HLL_M} - count(*)) * {_HLL_SCALE}::BIGINT AS sum_scaled,
             {_HLL_M} - count(*) AS v_empty
      FROM regs GROUP BY seg),
    est AS (
      SELECT seg, v_empty,
             (0.7213 / (1.0 + 1.079 / {_HLL_M}.0)) * {_HLL_M}.0 * {_HLL_M}.0
               * {_HLL_SCALE}.0 / CAST(sum_scaled AS DOUBLE) AS raw
      FROM agg),
    fin AS (
      SELECT seg,
             CASE WHEN raw <= 2.5 * {_HLL_M}.0 AND v_empty > 0
                  THEN {_HLL_M}.0 * ln({_HLL_M}.0 / CAST(v_empty AS DOUBLE))
                  ELSE raw END AS est
      FROM est),
    wide AS (
      SELECT max(CASE WHEN seg = '{_HLL_A}' THEN est END) AS est_a,
             max(CASE WHEN seg = '{_HLL_B}' THEN est END) AS est_b,
             max(CASE WHEN seg = 'UNION' THEN est END) AS est_union
      FROM fin),
    exact AS (
      SELECT CAST(count(*) AS BIGINT) AS n_exact_inter FROM (
        SELECT user_id FROM ev WHERE seg = '{_HLL_A}'
        INTERSECT
        SELECT user_id FROM ev WHERE seg = '{_HLL_B}'))
    SELECT round(est_a + 1e-9, 4) AS est_a,
           round(est_b + 1e-9, 4) AS est_b,
           round(est_union + 1e-9, 4) AS est_union,
           round(greatest(0.0, est_a + est_b - est_union) + 1e-9, 4)
             AS est_intersection,
           exact.n_exact_inter
    FROM wide, exact
    """,
)
def hll_intersection_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user INTERSECTION between two event segments estimated
    purely from mergeable HLL sketches via inclusion–exclusion:
    |A∩B| ≈ max(0, est(A) + est(B) − est(A∪B)) — clamped at zero on both
    engine and oracle sides, since sketch error can push the signed
    inclusion–exclusion estimate negative when the true overlap is small
    relative to the per-sketch standard error. The union sketch is the
    register-wise max of the two segment sketches — never a rescan. The
    exact intersection rides along as the calibration column. Register
    arithmetic is the portable integer-exact recipe of
    sketch_hll_portable_rollup (52-bit md5 hash, bin()-length rho,
    scaled indicator sum), so both engines derive bit-identical
    registers and take identical correction branches.

    Scale shape: one pass builds ≤ 2×256 register rows (map-side
    combined); everything after is register-domain-sized. This is the
    sketch-warehouse query pattern: segment sketches persisted once
    answer any pairwise overlap later without touching the corpus."""
    e = Tables(spark, sf_dir).events
    ev = e.filter(F.col("event_type").isin(_HLL_A, _HLL_B)).select(
        F.col("event_type").alias("seg"), "user_id"
    )
    w_mask = (1 << 44) - 1
    hashed = ev.withColumn(
        "h",
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 13), 16, 10)
        .cast("long"),
    )
    rho = (
        hashed.select(
            "seg",
            F.shiftright("h", 44).alias("idx"),
            F.col("h").bitwiseAND(F.lit(w_mask)).alias("w"),
        )
        .withColumn(
            "rho",
            F.when(F.col("w") == 0, F.lit(45)).otherwise(
                F.lit(45) - F.length(F.expr("bin(w)"))
            ),
        )
    )
    segregs = rho.groupBy("seg", "idx").agg(F.max("rho").alias("m"))
    regs = segregs.unionByName(
        segregs.groupBy("idx")
        .agg(F.max("m").alias("m"))
        .select(F.lit("UNION").alias("seg"), "idx", "m")
    )
    agg = regs.groupBy("seg").agg(
        (
            F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 45 - m)"))
            + (F.lit(_HLL_M) - F.count(F.lit(1))) * F.lit(_HLL_SCALE)
        ).alias("sum_scaled"),
        (F.lit(_HLL_M) - F.count(F.lit(1))).alias("v_empty"),
    )
    raw = (
        F.lit(0.7213 / (1.0 + 1.079 / float(_HLL_M)))
        * float(_HLL_M)
        * float(_HLL_M)
        * float(_HLL_SCALE)
        / F.col("sum_scaled").cast("double")
    )
    est = F.when(
        (F.col("raw") <= 2.5 * _HLL_M) & (F.col("v_empty") > 0),
        float(_HLL_M) * F.log(float(_HLL_M) / F.col("v_empty").cast("double")),
    ).otherwise(F.col("raw"))
    fin = agg.withColumn("raw", raw).withColumn("est", est)
    wide = fin.agg(
        F.max(F.when(F.col("seg") == _HLL_A, F.col("est"))).alias("est_a"),
        F.max(F.when(F.col("seg") == _HLL_B, F.col("est"))).alias("est_b"),
        F.max(F.when(F.col("seg") == "UNION", F.col("est"))).alias("est_union"),
    )
    ua = ev.filter(F.col("seg") == _HLL_A).select("user_id")
    ub = ev.filter(F.col("seg") == _HLL_B).select("user_id")
    exact = ua.intersect(ub).agg(F.count(F.lit(1)).alias("n_exact_inter"))
    return wide.crossJoin(F.broadcast(exact)).select(
        F.round(F.col("est_a") + 1e-9, 4).alias("est_a"),
        F.round(F.col("est_b") + 1e-9, 4).alias("est_b"),
        F.round(F.col("est_union") + 1e-9, 4).alias("est_union"),
        F.round(
            F.greatest(
                F.lit(0.0),
                F.col("est_a") + F.col("est_b") - F.col("est_union"),
            )
            + 1e-9,
            4,
        ).alias("est_intersection"),
        "n_exact_inter",
    )


_JL_D = 64
_JL_K = 16


def _jl_signs() -> list[list[float]]:
    """Deterministic ±1 projection rows: sign(i, j) from the md5 of
    "i:j" (hash-derived like every other portable kernel here — no RNG,
    so engine and oracle embed the identical literal matrix)."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{i}:{j}".encode()).hexdigest()[:2], 16) % 2 == 0
            else -1.0
            for i in range(_JL_D)
        ]
        for j in range(_JL_K)
    ]


def _jl_oracle() -> str:
    signs = _jl_signs()
    y = ", ".join(
        "list_dot_product(v, ["
        + ", ".join(f"{s:.1f}" for s in row)
        + "])"
        for row in signs
    )
    return f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    p AS (SELECT vec_id, v, [{y}] AS y FROM e),
    pairs AS (
      SELECT a.vec_id AS ia,
             list_dot_product(a.v, a.v) - 2 * list_dot_product(a.v, b.v)
               + list_dot_product(b.v, b.v) AS d64,
             list_dot_product(a.y, a.y) - 2 * list_dot_product(a.y, b.y)
               + list_dot_product(b.y, b.y) AS d16
      FROM p a JOIN p b ON b.vec_id = a.vec_id + 1),
    r AS (
      SELECT round((d16 / {_JL_K}.0) / d64 + 1e-9, 6) AS ratio
      FROM pairs WHERE d64 > 0)
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           round(avg(ratio) + 1e-9, 4) AS avg_ratio,
           round(min(ratio) + 1e-9, 6) AS min_ratio,
           round(max(ratio) + 1e-9, 6) AS max_ratio
    FROM r
    """


@query("jl_projection_distortion", oracle=_jl_oracle())
def jl_projection_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality-reduction audit: project the
    64-dim embeddings to 16 dims with a deterministic ±1 matrix (md5
    sign per cell) and report the squared-distance distortion ratio
    (projected/original, 1/k-scaled — E[ratio]=1 under JL) over the
    adjacent-id pair sample. This is the go/no-go report before running
    the ANN/semdedup family on reduced vectors. Distances use the
    dot-product identity ‖a‖²−2a·b+‖b‖² on BOTH engines so the fp
    operation sequence is identical (the cosine-query precedent).

    Scale shape: the projection is a per-row map (16 fixed-literal dot
    products — codegen HOFs, no shuffle); the pair frame is one
    self-join on vec_id+1 (co-partitioned key join); the report is a
    scalar aggregate. At 100 TB the same plan projects each shard once
    and samples pairs within shards."""
    signs = _jl_signs()

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )

    emb = Tables(spark, sf_dir).embeddings
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    y = F.array(
        *[
            dot(v, F.array(*[F.lit(s) for s in row])).alias(f"y{j}")
            for j, row in enumerate(signs)
        ]
    )
    p = emb.select("vec_id", v.alias("v"), y.alias("y"))
    a, b = p.alias("a"), p.alias("b")
    va, vb, ya, yb = F.col("a.v"), F.col("b.v"), F.col("a.y"), F.col("b.y")
    pairs = a.join(b, F.col("b.vec_id") == F.col("a.vec_id") + 1).select(
        (dot(va, va) - 2 * dot(va, vb) + dot(vb, vb)).alias("d64"),
        (dot(ya, ya) - 2 * dot(ya, yb) + dot(yb, yb)).alias("d16"),
    )
    r = pairs.filter(F.col("d64") > 0).select(
        F.round((F.col("d16") / float(_JL_K)) / F.col("d64") + 1e-9, 6).alias(
            "ratio"
        )
    )
    return r.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.avg("ratio") + 1e-9, 4).alias("avg_ratio"),
        F.round(F.min("ratio") + 1e-9, 6).alias("min_ratio"),
        F.round(F.max("ratio") + 1e-9, 6).alias("max_ratio"),
    )


@query(
    "gini_coefficient_customer_revenue",
    oracle="""
    WITH per AS (
      SELECT o_custkey AS ck, sum(o_totalprice) AS x
      FROM orders GROUP BY o_custkey),
    ranked AS (
      SELECT x, row_number() OVER (ORDER BY x, ck) AS i,
             count(*) OVER () AS n, sum(x) OVER () AS sx
      FROM per)
    SELECT CAST(max(n) AS BIGINT) AS n_customers,
           round(max(sx) + 1e-9, 2) AS total_revenue,
           round(2.0 * sum(i * x) / (max(n) * max(sx))
                 - (max(n) + 1.0) / max(n) + 1e-9, 6) AS gini
    FROM ranked
    """,
)
def gini_coefficient_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration Gini coefficient over customers via the
    sorted-rank identity G = 2·Σ i·x_(i) / (n·Σx) − (n+1)/n — the
    inequality metric for "how head-heavy is our customer base" (0 =
    uniform, →1 = one customer is the business). The rank is a TOTAL
    order ((revenue, custkey)), so the trajectory is deterministic.

    Scale shape: the rank is the repo's distributed ``global_rank``
    (range partition → local row_number → offset broadcast), never an
    unpartitioned window over the customer-sized frame; everything else
    is one groupBy and one scalar aggregate."""
    from ror_etl_spark.operators.util import global_rank

    o = Tables(spark, sf_dir).orders
    per = o.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.sum("o_totalprice").alias("x")
    )
    ranked = global_rank(per, "x", "ck", out="i", zero_based=False)
    return ranked.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("x") + 1e-9, 2).alias("total_revenue"),
        F.round(
            2.0 * F.sum(F.col("i") * F.col("x")) / (F.count(F.lit(1)) * F.sum("x"))
            - (F.count(F.lit(1)) + 1.0) / F.count(F.lit(1))
            + 1e-9,
            6,
        ).alias("gini"),
    )


@query(
    "herfindahl_concentration_by_region",
    oracle="""
    WITH sales AS (
      SELECT r.r_name AS region, n.n_name AS nation, sum(o.o_totalprice) AS rev
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY region, nation),
    tot AS (SELECT region, sum(rev) AS trev FROM sales GROUP BY region)
    SELECT s.region,
           CAST(count(*) AS BIGINT) AS n_nations,
           round(sum((s.rev / t.trev) * (s.rev / t.trev)) + 1e-9, 6) AS hhi,
           round(1.0 / count(*) + 1e-9, 6) AS hhi_uniform
    FROM sales s JOIN tot t ON s.region = t.region
    GROUP BY s.region
    ORDER BY s.region
    """,
)
def herfindahl_concentration_by_region(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Herfindahl–Hirschman market-concentration index per region: the
    sum of squared nation revenue shares, with the uniform-market floor
    (1/n) alongside — the anti-trust/portfolio-concentration primitive.

    Scale shape: one fact-table aggregate to (region, nation) grain
    (domain-sized output), then share arithmetic on that bounded frame;
    the region total reuses the same aggregate via a dimension-keyed
    join, never a second fact scan."""
    t = Tables(spark, sf_dir)
    sales = (
        t.orders.join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(t.nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(t.region, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    tot = sales.groupBy("region").agg(F.sum("rev").alias("trev"))
    share = F.col("rev") / F.col("trev")
    return (
        sales.join(tot, "region")
        .groupBy("region")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.round(F.sum(share * share) + 1e-9, 6).alias("hhi"),
            F.round(1.0 / F.count(F.lit(1)) + 1e-9, 6).alias("hhi_uniform"),
        )
        .orderBy("region")
    )


@query(
    "mann_kendall_daily_revenue",
    oracle="""
    WITH daily AS (
      SELECT o_orderdate AS dt, sum(o_totalprice) AS rev
      FROM orders GROUP BY o_orderdate),
    pairs AS (
      SELECT CASE WHEN b.rev > a.rev THEN 1
                  WHEN b.rev < a.rev THEN -1 ELSE 0 END AS sgn
      FROM daily a JOIN daily b ON b.dt > a.dt),
    s AS (SELECT CAST(sum(sgn) AS BIGINT) AS s_stat,
                 CAST(count(*) AS BIGINT) AS n_pairs FROM pairs),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily),
    ties AS (
      SELECT coalesce(sum(c * (c - 1) * (2 * c + 5)), 0) AS tie_term
      FROM (SELECT CAST(count(*) AS BIGINT) AS c FROM daily GROUP BY rev)
      WHERE c > 1)
    SELECT n.n_days, s.n_pairs, s.s_stat,
           round((s.s_stat - CASE WHEN s.s_stat > 0 THEN 1
                                  WHEN s.s_stat < 0 THEN -1 ELSE 0 END)
                 / sqrt((n.n_days * (n.n_days - 1.0) * (2.0 * n.n_days + 5)
                         - ties.tie_term) / 18.0) + 1e-9, 4) AS z
    FROM s, n, ties
    """,
)
def mann_kendall_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall monotonic-trend test on daily revenue: the S
    statistic is the INTEGER sum of pairwise sign comparisons in date
    order (exact on both engines — no float enters until the final z),
    variance carries the standard tie correction, and z applies the
    ±1 continuity correction. The non-parametric partner of Theil–Sen:
    S says WHETHER revenue trends, the slope says how fast.

    Scale shape: one date-keyed aggregate, then a calendar-bounded pair
    frame (same ~2.9M-pair ceiling as theil_sen_daily_revenue, flat in
    data volume) reduced to one integer; tie counting is a grouped
    aggregate over the daily frame."""
    o = Tables(spark, sf_dir).orders
    daily = o.groupBy(F.col("o_orderdate").alias("dt")).agg(
        F.sum("o_totalprice").alias("rev")
    )
    a, b = daily.alias("a"), daily.alias("b")
    sgn = F.when(F.col("b.rev") > F.col("a.rev"), 1).when(
        F.col("b.rev") < F.col("a.rev"), -1
    ).otherwise(0)
    s = a.join(b, F.col("b.dt") > F.col("a.dt")).agg(
        F.sum(sgn).alias("s_stat"), F.count(F.lit(1)).alias("n_pairs")
    )
    n = daily.agg(F.count(F.lit(1)).alias("n_days"))
    ties = (
        daily.groupBy("rev")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("c") * (F.col("c") - 1) * (2 * F.col("c") + 5)),
                F.lit(0),
            ).alias("tie_term")
        )
    )
    nd, ss = F.col("n_days"), F.col("s_stat")
    cont = F.when(ss > 0, 1).when(ss < 0, -1).otherwise(0)
    var = (nd * (nd - 1.0) * (2.0 * nd + 5) - F.col("tie_term")) / 18.0
    return (
        s.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(ties))
        .select(
            "n_days",
            "n_pairs",
            "s_stat",
            F.round((ss - cont) / F.sqrt(var) + 1e-9, 4).alias("z"),
        )
    )


_ACF_LAGS = [1, 2, 3, 7, 14]


def _acf_oracle() -> str:
    lags = ", ".join(str(k) for k in _ACF_LAGS)
    return f"""
    WITH daily AS (
      SELECT o_orderdate AS dt, sum(o_totalprice) AS rev
      FROM orders GROUP BY o_orderdate),
    lagged AS (
      SELECT l.lag, a.rev AS x, b.rev AS y
      FROM (SELECT unnest([{lags}]) AS lag) l
      JOIN daily a ON TRUE
      JOIN daily b ON b.dt = a.dt + to_days(CAST(l.lag AS INTEGER)))
    SELECT CAST(lag AS BIGINT) AS lag,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round((avg(x * y) - avg(x) * avg(y))
                 / (sqrt(avg(x * x) - avg(x) * avg(x))
                    * sqrt(avg(y * y) - avg(y) * avg(y))) + 1e-9, 4) AS acf
    FROM lagged
    GROUP BY lag ORDER BY lag
    """


@query("acf_daily_revenue", oracle=_acf_oracle())
def acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of daily revenue at calendar lags 1/2/3/7/14 —
    the seasonality fingerprint a forecaster reads before choosing a
    model (lag-7 high ⇒ weekly cycle). Pairs match on CALENDAR distance
    (dt + k days self-join), not row offsets, so calendar gaps can't
    smear lags (the seasonal-naive review lesson applied ex ante);
    Pearson r per lag from moment aggregates, identical formula both
    engines, epsilon-rounded.

    Scale shape: one date-keyed aggregate, then |lags| equi-joins on
    the calendar-bounded daily frame and a lag-domain-sized reduce."""
    o = Tables(spark, sf_dir).orders
    daily = o.groupBy(F.col("o_orderdate").alias("dt")).agg(
        F.sum("o_totalprice").alias("rev")
    )
    lags = spark.createDataFrame([(k,) for k in _ACF_LAGS], "lag int")
    a = daily.crossJoin(F.broadcast(lags))
    b = daily.select(F.col("dt").alias("dt2"), F.col("rev").alias("y"))
    lagged = a.join(
        b,
        F.col("dt2")
        == F.col("dt") + F.col("lag") * F.expr("INTERVAL 1 DAY"),
    ).select("lag", F.col("rev").alias("x"), "y")
    num = F.avg(F.col("x") * F.col("y")) - F.avg("x") * F.avg("y")
    den = F.sqrt(F.avg(F.col("x") * F.col("x")) - F.avg("x") * F.avg("x")) * F.sqrt(
        F.avg(F.col("y") * F.col("y")) - F.avg("y") * F.avg("y")
    )
    return (
        lagged.groupBy(F.col("lag").cast("long").alias("lag"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(num / den + 1e-9, 4).alias("acf"),
        )
        .orderBy("lag")
    )


@query(
    "cramers_v_priority_status",
    oracle="""
    WITH ct AS (
      SELECT o_orderpriority AS a, o_orderstatus AS b,
             CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY a, b),
    m AS (
      SELECT CAST(sum(n) AS BIGINT) AS total,
             CAST(count(DISTINCT a) AS BIGINT) AS ra,
             CAST(count(DISTINCT b) AS BIGINT) AS rb
      FROM ct),
    ma AS (SELECT a, sum(n) AS na FROM ct GROUP BY a),
    mb AS (SELECT b, sum(n) AS nb FROM ct GROUP BY b),
    chi AS (
      SELECT sum((ct.n - ma.na * mb.nb / CAST(m.total AS DOUBLE))
                 * (ct.n - ma.na * mb.nb / CAST(m.total AS DOUBLE))
                 / (ma.na * mb.nb / CAST(m.total AS DOUBLE))) AS chi2
      FROM ct JOIN ma ON ct.a = ma.a JOIN mb ON ct.b = mb.b, m)
    SELECT m.total AS n_orders, m.ra AS n_priorities, m.rb AS n_statuses,
           round(chi.chi2 + 1e-9, 4) AS chi2,
           round(sqrt(chi.chi2 / (m.total
                 * least(m.ra - 1, m.rb - 1))) + 1e-9, 6) AS cramers_v
    FROM m, chi
    """,
)
def cramers_v_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association strength between order priority and order
    status — the categorical-correlation profiler (0 = independent,
    1 = determined) a feature-selection or leakage audit runs over every
    column pair. Chi-square from the contingency table against
    independence margins, normalized by n·min(r−1, c−1).

    Scale shape: ONE fact aggregate to the (priority, status) grain
    (domain-sized, ≤ 5×3 cells); margins and chi-square are arithmetic
    over that bounded frame — the whole statistic costs one shuffle."""
    o = Tables(spark, sf_dir).orders
    ct = o.groupBy(
        F.col("o_orderpriority").alias("a"), F.col("o_orderstatus").alias("b")
    ).agg(F.count(F.lit(1)).alias("n"))
    ct = ct.localCheckpoint(eager=False)
    m = ct.agg(
        F.sum("n").alias("total"),
        F.countDistinct("a").alias("ra"),
        F.countDistinct("b").alias("rb"),
    )
    ma = ct.groupBy("a").agg(F.sum("n").alias("na"))
    mb = ct.groupBy("b").agg(F.sum("n").alias("nb"))
    exp = F.col("na") * F.col("nb") / F.col("total").cast("double")
    chi = (
        ct.join(ma, "a")
        .join(mb, "b")
        .crossJoin(F.broadcast(m))
        .agg(F.sum((F.col("n") - exp) * (F.col("n") - exp) / exp).alias("chi2"))
    )
    return (
        m.crossJoin(F.broadcast(chi))
        .select(
            F.col("total").alias("n_orders"),
            F.col("ra").alias("n_priorities"),
            F.col("rb").alias("n_statuses"),
            F.round(F.col("chi2") + 1e-9, 4).alias("chi2"),
            F.round(
                F.sqrt(
                    F.col("chi2")
                    / (F.col("total") * F.least(F.col("ra") - 1, F.col("rb") - 1))
                )
                + 1e-9,
                6,
            ).alias("cramers_v"),
        )
    )


@query(
    "levene_test_value_by_event_type",
    oracle="""
    WITH med AS (
      SELECT event_type AS g, quantile_cont(value, 0.5) AS m
      FROM events GROUP BY g),
    z AS (
      SELECT e.event_type AS g, abs(e.value - med.m) AS z
      FROM events e JOIN med ON e.event_type = med.g),
    grp AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n, avg(z) AS zbar,
             sum(z * z) AS zsq, sum(z) AS zsum
      FROM z GROUP BY g),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(count(*) AS BIGINT) AS k,
             sum(zsum) / sum(n) AS zbar_all
      FROM grp),
    parts AS (
      SELECT sum(grp.n * (grp.zbar - tot.zbar_all) * (grp.zbar - tot.zbar_all))
               AS between_ss,
             sum(grp.zsq - grp.n * grp.zbar * grp.zbar) AS within_ss
      FROM grp, tot)
    SELECT tot.nn AS n_events, tot.k AS n_groups,
           round((tot.nn - tot.k) * parts.between_ss
                 / ((tot.k - 1) * parts.within_ss) + 1e-9, 4) AS w_stat
    FROM tot, parts
    """,
)
def levene_test_value_by_event_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Brown–Forsythe (median-centered Levene) test for equality of
    variances of event values across event types — the gate before any
    pooled-variance comparison (the repo's Welch t-test sibling asks
    about means; this asks whether spread itself shifted, a drift signal
    means miss). W = ((N−k)/(k−1)) · between-group SS of |x−med| over
    within-group SS. Within-SS uses the moment identity Σz²−n·z̄² so both
    engines reduce each group to the same three aggregates.

    Scale shape: the exact per-group median is the heavy op (two passes
    at scale or percentile_approx when error-tolerant); everything after
    is a group-domain-sized reduce."""
    e = Tables(spark, sf_dir).events
    med = e.groupBy(F.col("event_type").alias("g")).agg(
        F.expr("percentile(value, 0.5)").alias("m")
    )
    z = e.join(
        F.broadcast(med), e["event_type"] == med["g"]
    ).select("g", F.abs(F.col("value") - F.col("m")).alias("z"))
    grp = z.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("z").alias("zbar"),
        F.sum(F.col("z") * F.col("z")).alias("zsq"),
        F.sum("z").alias("zsum"),
    )
    tot = grp.agg(
        F.sum("n").alias("nn"),
        F.count(F.lit(1)).alias("k"),
        (F.sum("zsum") / F.sum("n")).alias("zbar_all"),
    )
    parts = grp.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.col("n")
            * (F.col("zbar") - F.col("zbar_all"))
            * (F.col("zbar") - F.col("zbar_all"))
        ).alias("between_ss"),
        F.sum(F.col("zsq") - F.col("n") * F.col("zbar") * F.col("zbar")).alias(
            "within_ss"
        ),
    )
    return tot.crossJoin(F.broadcast(parts)).select(
        F.col("nn").alias("n_events"),
        F.col("k").alias("n_groups"),
        F.round(
            (F.col("nn") - F.col("k"))
            * F.col("between_ss")
            / ((F.col("k") - 1) * F.col("within_ss"))
            + 1e-9,
            4,
        ).alias("w_stat"),
    )
