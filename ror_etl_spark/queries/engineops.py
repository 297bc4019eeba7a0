"""Engine-mechanics queries: iterative PageRank with a fully unrolled SQL
oracle, skew-salted join equivalence, and a column profiler.

These register operator families that previously only had pytest evidence
(skew salting) or no driver-facing demo at all (iterative graph
algorithms beyond connected components, data profiling) as hash-checked
driver queries.
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

from ror_etl_spark.queries.util import ordered, r2
from ror_etl_spark.registry import query
from ror_etl_spark.tables import Tables

_PR_D = 0.85
_PR_ITERS = 5
_PR_ROUND = 8


def _pagerank_oracle() -> str:
    """Unrolled weighted-PageRank replay: the trajectory is a pure
    function of the edge weights because every iteration's ranks are
    quantized to 8 dp (same trick as the k-means oracle — fp summation
    order cannot drift a rounded fixpoint)."""
    ctes = [
        """nodes AS (SELECT n_nationkey AS id FROM nation)""",
        """edges AS (
      SELECT s.s_nationkey AS u, c.c_nationkey AS v, count(*) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY u, v)""",
        """wout AS (SELECT u, sum(w) AS wu FROM edges GROUP BY u)""",
        """efrac AS (
      SELECT e.u, e.v, e.w / wout.wu AS frac
      FROM edges e JOIN wout ON e.u = wout.u)""",
        """nn AS (SELECT count(*) AS n FROM nodes)""",
        f"""r0 AS (SELECT id, round(1.0 / (SELECT n FROM nn), {_PR_ROUND}) AS pr
      FROM nodes)""",
    ]
    for i in range(_PR_ITERS):
        ctes.append(
            f"""r{i + 1} AS (
      SELECT nodes.id,
             round((1 - {_PR_D}) / (SELECT n FROM nn)
                   + {_PR_D} * coalesce(sum(r.pr * e.frac), 0.0),
                   {_PR_ROUND}) AS pr
      FROM nodes
      LEFT JOIN efrac e ON e.v = nodes.id
      LEFT JOIN r{i} r ON r.id = e.u
      GROUP BY nodes.id)"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT id AS nationkey, round(pr, 6) AS pagerank
    FROM r{_PR_ITERS}
    ORDER BY pagerank DESC, nationkey
    """
    )


def _pr_trajectory_udf():
    """Arrow kernel replaying the full 5-iteration quantized PageRank
    trajectory on ONE row holding the aggregated edge list — the r12
    optimization-round rewrite of the per-iteration join loop.

    Why this is safe at any scale: the nation trade graph has at most
    25² = 625 aggregated (u, v, w) edges and 25 nodes REGARDLESS of
    fact-table size — the heavy, data-sized work (the 4-way fact join
    and the groupBy(u, v) count) stays fully distributed, and only the
    bounded aggregate crosses into the kernel. The old loop ran 5
    shuffle rounds + 2 joins per round over 25-row frames: pure fixed
    cost at every scale (31 Spark jobs per execution at sf0.1, 1.5 s of
    AQE scheduling gaps — r12 event-log profile), with identical output.

    Quantization semantics are preserved exactly: per-iteration ranks
    round HALF_UP at 8 dp via ``Decimal(repr(x))`` — the same shortest
    decimal-string construction as the JVM's ``BigDecimal.valueOf``
    behind ``F.round`` — so the kernel's trajectory is the one the
    unrolled DuckDB oracle replays (verified hash-identical at all
    three test SFs). Edge fractions are the same IEEE divisions
    (w / wu on exact integer weights); mass sums are float64 adds whose
    order differences the 8 dp quantization absorbs, as it already did
    between Spark's partial aggs and DuckDB's sequential sums."""
    from decimal import Decimal, ROUND_HALF_UP

    from pyspark.sql.functions import pandas_udf

    q8 = Decimal("1E-8")

    @pandas_udf("array<struct<id: int, pr: double>>")
    def traj(es: pd.Series, ids: pd.Series) -> pd.Series:
        def r8(x: float) -> float:
            return float(Decimal(repr(float(x))).quantize(q8, ROUND_HALF_UP))

        out = []
        for edge_list, node_ids in zip(es, ids):
            n = len(node_ids)
            pos = {nid: i for i, nid in enumerate(node_ids)}
            wu: dict = {}
            for e in edge_list:
                wu[e["u"]] = wu.get(e["u"], 0) + e["w"]
            r = [r8(1.0 / n)] * n
            for _ in range(_PR_ITERS):
                mass = [0.0] * n
                for e in edge_list:
                    mass[pos[e["v"]]] += (e["w"] / wu[e["u"]]) * r[pos[e["u"]]]
                r = [r8((1 - _PR_D) / n + _PR_D * m) for m in mass]
            out.append(
                [{"id": int(nid), "pr": r[i]} for i, nid in enumerate(node_ids)]
            )
        return pd.Series(out)

    # asNondeterministic: same reason as the similarity kernels — stops
    # Catalyst duplicating the Arrow eval below pushed filters.
    return traj.asNondeterministic()


@query("pagerank_nation_trade", oracle=_pagerank_oracle(), priority=2)
def pagerank_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the nation-level trade graph (supplier
    nation → customer nation, edge weight = shipment count), 5 iterations,
    d=0.85, per-iteration ranks quantized to 8 dp so the trajectory is
    engine-portable and the DuckDB oracle replays all 5 iterations
    CTE-for-CTE.

    Plan shape (r12 optimization round): the data-sized work — the
    lineitem⋈orders⋈customer⋈supplier join and the groupBy(u, v) edge
    count — is fully distributed and partial-aggregated; the result is
    bounded at nation² = 625 rows AT ANY SCALE, so the 5 rank iterations
    run in one bounded Arrow kernel on the collected edge aggregate
    (``_pr_trajectory_udf``) instead of 5 join+groupBy shuffle rounds
    over 25-row frames. Same trajectory, same hashes; 31 → ~7 Spark jobs
    per execution (the old loop's per-round shuffles were fixed overhead
    at every scale — see OPTIMIZATION_r12.md)."""
    t = Tables(spark, sf_dir)
    edges = (
        t.lineitem.join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(t.supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            F.col("s_nationkey").alias("u"), F.col("c_nationkey").alias("v")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    # one tagged union + ONE global aggregate collects both the edge list
    # and the node-id list (collect_list skips nulls) — no join between
    # the two 1-row aggregates, so the plan stays BNLJ-free (pinned by
    # tests/test_plan_invariants.py) and one whole query stage disappears
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
    traj = _pr_trajectory_udf()
    return (
        one
        .select(F.explode(traj(F.col("es"), F.col("ids"))).alias("r"))
        .select(
            F.col("r.id").alias("nationkey"),
            F.round(F.col("r.pr"), 6).alias("pagerank"),
        )
        # total order without a range exchange: the kernel's explode
        # output is a single partition (child of a single-row aggregate),
        # so a partition-local sort IS the global sort — a plain orderBy
        # would range-sample, which executes the Arrow kernel twice
        # (r12 event-log profile: two ~0.25 s single-task UDF jobs).
        .coalesce(1)
        .sortWithinPartitions(F.desc("pagerank"), F.asc("nationkey"))
    )


@query(
    "salted_join_segment_revenue",
    oracle="""
    SELECT c.c_mktsegment, count(*) AS n_orders,
           round(sum(o.o_totalprice), 2) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
    priority=2,
)
def salted_join_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-salting operator (operators/skew.py) on the driver gate:
    orders⋈customer with an 8-way salt, then segment revenue. The oracle
    is the PLAIN join — salting must be a pure physical rewrite with zero
    semantic effect, and this query pins that equivalence end to end.
    Use when one customer owns so many orders that even AQE's skew split
    leaves a straggler reducer."""
    from ror_etl_spark.operators.skew import salted_join

    t = Tables(spark, sf_dir)
    j = salted_join(
        t.orders.select("o_custkey", "o_totalprice"),
        t.customer.select("c_custkey", "c_mktsegment"),
        "o_custkey",
        "c_custkey",
        n_salts=8,
    )
    return (
        j.groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_orders"), r2(F.sum("o_totalprice")).alias("revenue"))
        .orderBy("c_mktsegment")
    )


@query(
    "column_profile_orders",
    oracle="""
    SELECT 'o_orderkey' AS col, count(*) AS n, count(*) - count(o_orderkey) AS n_null,
           count(DISTINCT o_orderkey) AS n_distinct,
           CAST(min(o_orderkey) AS VARCHAR) AS min_v, CAST(max(o_orderkey) AS VARCHAR) AS max_v
    FROM orders
    UNION ALL
    SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
           count(DISTINCT o_custkey),
           CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
           count(DISTINCT o_orderstatus),
           min(o_orderstatus), max(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
           count(DISTINCT o_orderpriority),
           min(o_orderpriority), max(o_orderpriority)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
           count(DISTINCT o_totalprice),
           CAST(round(min(o_totalprice), 2) AS VARCHAR),
           CAST(round(max(o_totalprice), 2) AS VARCHAR)
    FROM orders
    ORDER BY col
    """,
)
def column_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data profiling pass (the first thing run on any new 100 TB
    delivery): per-column null counts, distinct cardinality, min/max.

    Shape: a UNION of per-column aggregation legs, one narrow leg per
    profiled column. On columnar storage this is NOT five scans' worth
    of I/O — each leg's parquet scan prunes to its single column, so the
    union reads exactly the same bytes as one 5-column scan would, and
    every leg's count_distinct shuffles only its own column. The
    alternative (one fused aggregate with five count_distincts +
    ``stack``) was built and measured: Catalyst plans multi-distinct via
    Expand, multiplying every row ×6 through a single aggregation
    pipeline — 2.8 s vs 0.5 s for this form at sf0.1, with identical
    total I/O. The legs all execute inside one job, concurrently."""
    o = Tables(spark, sf_dir).orders

    def leg(col: str, round2: bool = False) -> DataFrame:
        mn, mx = F.min(col), F.max(col)
        if round2:
            mn, mx = F.round(mn, 2), F.round(mx, 2)
        return o.agg(
            F.lit(col).alias("col"),
            F.count(F.lit(1)).alias("n"),
            (F.count(F.lit(1)) - F.count(col)).alias("n_null"),
            F.count_distinct(F.col(col)).alias("n_distinct"),
            mn.cast("string").alias("min_v"),
            mx.cast("string").alias("max_v"),
        )

    legs = [
        leg("o_orderkey"),
        leg("o_custkey"),
        leg("o_orderstatus"),
        leg("o_orderpriority"),
        leg("o_totalprice", round2=True),
    ]
    out = legs[0]
    for other in legs[1:]:
        out = out.unionAll(other)
    return out.orderBy("col")


_ZBITS = 10


def _zorder_sql(a: str, b: str) -> str:
    """Bit-interleave two _ZBITS-bit ints into a z-order key (SQL)."""
    terms = []
    for i in range(_ZBITS):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


@query(
    "zorder_cluster_key",
    oracle=f"""
    WITH z AS (
      SELECT o_orderkey,
             {_zorder_sql("(o_custkey & 1023)", "(o_orderkey & 1023)")} AS zkey
      FROM orders)
    SELECT o_orderkey, zkey FROM z
    ORDER BY zkey, o_orderkey
    LIMIT 1000
    """,
)
def zorder_cluster_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key: interleave the bits of two join/
    filter dimensions so that sorting by the single zkey co-locates rows
    that are close in BOTH dimensions — the standard multi-dimensional
    data-skipping layout (Delta OPTIMIZE ZORDER, Iceberg sort orders).
    The key is pure bit arithmetic in whole-stage codegen; at 100 TB the
    write path is ``repartitionByRange(zkey).sortWithinPartitions(zkey)``
    and every parquet row group gets tight min/max on both dimensions.
    Registered as the key computation + deterministic inspection slice."""
    o = Tables(spark, sf_dir).orders
    a = F.col("o_custkey").bitwiseAND(F.lit(1023))
    b = F.col("o_orderkey").bitwiseAND(F.lit(1023))
    zkey = None
    for i in range(_ZBITS):
        pa = F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
        pb = F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        zkey = pa + pb if zkey is None else zkey + pa + pb
    return (
        o.select("o_orderkey", zkey.alias("zkey"))
        .orderBy("zkey", "o_orderkey")
        .limit(1000)
    )


@query(
    "triangle_count_nations",
    oracle="""
    WITH und AS (
      SELECT DISTINCT least(s.s_nationkey, c.c_nationkey) AS a,
                      greatest(s.s_nationkey, c.c_nationkey) AS b
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE s.s_nationkey <> c.c_nationkey)
    SELECT count(*) AS n_triangles
    FROM und e1
    JOIN und e2 ON e2.a = e1.b
    JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    """,
)
def triangle_count_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the undirected nation-trade graph — the third
    graph primitive (after connected components and PageRank): canonical
    a<b edge orientation, then the two-path + closing-edge join. Each
    triangle a<b<c is counted exactly once. At 100 TB the same plan holds
    with the standard degree-ordering refinement (orient edges from low-
    to high-degree endpoint) so no reducer owns a celebrity vertex's
    whole neighborhood — noted here, unnecessary at 25 nodes."""
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
    e1 = und.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = und.select(F.col("a").alias("y2"), F.col("b").alias("z"))
    e3 = und.select(F.col("a").alias("x3"), F.col("b").alias("z3"))
    tri = (
        e1.join(e2, F.col("y") == F.col("y2"))
        .join(e3, (F.col("x") == F.col("x3")) & (F.col("z") == F.col("z3")))
    )
    return tri.agg(F.count(F.lit(1)).alias("n_triangles"))


@query(
    "equidepth_bin_assign",
    oracle="""
    WITH bounds AS (
      SELECT unnest([round(quantile_cont(o_totalprice, 0.1), 6), round(quantile_cont(o_totalprice, 0.2), 6),
                     round(quantile_cont(o_totalprice, 0.3), 6), round(quantile_cont(o_totalprice, 0.4), 6),
                     round(quantile_cont(o_totalprice, 0.5), 6), round(quantile_cont(o_totalprice, 0.6), 6),
                     round(quantile_cont(o_totalprice, 0.7), 6), round(quantile_cont(o_totalprice, 0.8), 6),
                     round(quantile_cont(o_totalprice, 0.9), 6)]) AS b
      FROM orders),
    assigned AS (
      SELECT o_orderkey, o_totalprice,
             (SELECT count(*) FROM bounds WHERE o_totalprice > b) AS bin
      FROM orders)
    SELECT bin, count(*) AS n,
           round(min(o_totalprice), 2) AS mn,
           round(max(o_totalprice), 2) AS mx
    FROM assigned
    GROUP BY bin
    ORDER BY bin
    """,
    priority=2,  # r5: bounds agg rewritten to the single-array percentile
)
def equidepth_bin_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (decile) feature binning WITHOUT a global window: exact
    decile boundaries come from one aggregation, broadcast as a 9-element
    array, and each row's bin is the count of boundaries below its value
    (an array fold in codegen). The naive ntile() alternative drags every
    row through a single-partition sort — this shape is the one that
    survives 100 TB, and it is how feature-engineering pipelines bin
    continuous columns for embedding-table lookups."""
    o = Tables(spark, sf_dir).orders
    qs = [i / 10 for i in range(1, 10)]
    # ONE percentile aggregate over an array of percentages, not nine:
    # each exact-percentile expression buffers every value independently,
    # so the single-call form cuts the aggregation state 9x and measured
    # 1.5 s -> 0.27 s for the bounds job at sf0.1 (identical values)
    bounds = o.agg(
        F.expr(
            "transform(percentile(o_totalprice, array("
            + ", ".join(str(q) for q in qs)
            + ")), x -> round(x, 6))"
        ).alias("bs")
    )
    assigned = o.crossJoin(F.broadcast(bounds)).select(
        "o_orderkey",
        "o_totalprice",
        F.aggregate(
            F.col("bs"),
            F.lit(0),
            lambda acc, bnd: acc + F.when(F.col("o_totalprice") > bnd, 1).otherwise(0),
        ).cast("long").alias("bin"),
    )
    return (
        assigned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("mn"),
            F.round(F.max("o_totalprice"), 2).alias("mx"),
        )
        .orderBy("bin")
    )


@query(
    "train_test_split_assign",
    oracle="""
    WITH s AS (
      SELECT doc_id, n_chars,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
                  THEN 'test' ELSE 'train' END AS split
      FROM documents)
    SELECT split, count(*) AS n, round(avg(n_chars) + 1e-9, 4) AS avg_chars
    FROM s GROUP BY split ORDER BY split
    """,
)
def train_test_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% holdout split keyed on a content-stable hash —
    reproducible across runs, partitionings, and engines (no rand()), and
    leak-free: a document's split never changes when the corpus grows.
    '1a' hex = 26/256 ≈ 10.2% to test. The same pattern keyed on a GROUP
    id (site, author) prevents near-duplicate train/test contamination."""
    d = Tables(spark, sf_dir).documents
    split = F.when(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "1a", "test"
    ).otherwise("train")
    return (
        d.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("n_chars") + 1e-9, 4).alias("avg_chars"),
        )
        .orderBy("split")
    )


@query(
    "data_quality_report",
    oracle="""
    SELECT
      (SELECT count(*) FROM lineitem) AS n_rows,
      (SELECT count(*) FROM lineitem WHERE l_quantity IS NULL) AS n_null_qty,
      (SELECT count(*) FROM lineitem
        WHERE l_discount < 0 OR l_discount > 1) AS n_bad_discount,
      (SELECT count(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans,
      (SELECT count(*) FROM (
         SELECT l_orderkey, l_linenumber FROM lineitem
         GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1)) AS n_dup_lines
    """,
)
def data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation-suite report (the Great-Expectations shape): null
    checks, domain checks, referential integrity (anti join), and
    key-uniqueness violations, emitted as ONE summary row a pipeline can
    gate promotion on — the generalization of the reference's two
    BigQuery check operators (ror_dag.py:179-195) to arbitrary rule sets.
    Each check is a separate aggregation over one scan + one broadcast
    anti join; nothing collects to the driver."""
    t = Tables(spark, sf_dir)
    li = t.lineitem
    base = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("l_quantity").isNull(), 1).otherwise(0)).alias("n_null_qty"),
        F.sum(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1).otherwise(0)
        ).alias("n_bad_discount"),
    )
    orphans = (
        li.join(
            t.orders.select("o_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left_anti",
        ).agg(F.count(F.lit(1)).alias("n_orphans"))
    )
    dups = (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.count(F.lit(1)).alias("n_dup_lines"))
    )
    return base.crossJoin(orphans).crossJoin(dups)


@query(
    "shuffle_key_skew_report",
    oracle="""
    WITH per AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY user_id),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_keys, CAST(sum(n) AS BIGINT) AS total,
             round(avg(n) + 1e-9, 4) AS avg_n
      FROM per)
    SELECT p.user_id, p.n,
           round(p.n / s.total + 1e-9, 6) AS share,
           round(p.n / s.avg_n + 1e-9, 4) AS x_avg,
           p.n * s.n_keys > 10 * s.total AS skewed
    FROM per p CROSS JOIN stats s
    ORDER BY p.n DESC, p.user_id LIMIT 20
    """,
    priority=3,
)
def shuffle_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/shuffle-key skew diagnosis: the 20 heaviest ``events.user_id``
    keys with their row counts, share of the table, and multiple of the
    mean — the report an engineer reads BEFORE choosing a mitigation
    (AQE skew split, the salted-join operator, or a broadcast). The
    ``skewed`` flag is the integer-exact form of ``n > 10·avg``
    (cross-multiplied: n·n_keys > 10·total — no float decides the
    boolean).

    Scale shape: one map-side-combined count per key, one scalar stats
    row broadcast back, TakeOrderedAndProject(20) on the exact integer
    count — the diagnosis never pays more than the aggregation the
    skewed shuffle itself would."""
    e = Tables(spark, sf_dir).events
    per = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    stats = per.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").alias("total"),
        F.round(F.avg("n") + 1e-9, 4).alias("avg_n"),
    )
    return (
        per.crossJoin(F.broadcast(stats))
        .select(
            "user_id",
            "n",
            F.round(F.col("n") / F.col("total") + 1e-9, 6).alias("share"),
            F.round(F.col("n") / F.col("avg_n") + 1e-9, 4).alias("x_avg"),
            (F.col("n") * F.col("n_keys") > 10 * F.col("total")).alias("skewed"),
        )
        .orderBy(F.desc("n"), F.asc("user_id"))
        .limit(20)
    )


_BLOOM_BITS = 16384  # 2^14 — bounded, so the build collect is bounded
_BLOOM_K = 3


def _bloom_bitpos(j: int, col):
    """Bit position of hash j for a key: md5-derived, portable — the
    DuckDB twin is ('0x'||substr(md5(j||':'||key),1,8))::BIGINT % m."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{j}:"), col.cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % _BLOOM_BITS
    )


@query(
    "bloom_prefilter_join",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_items,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'P')
    """,
    priority=3,
)
def bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter pattern as an explicit operator: build a PORTABLE
    Bloom filter (16384 bits, 3 md5-derived hash functions) over the
    small side's join keys ('P'-status orders), push the membership
    test into the big side's SCAN as a pure codegen predicate, then
    finish with the exact semi-join — the Bloom's false positives are
    removed there, so the RESULT is bit-identical to the plain join
    (which is exactly what the oracle checks, the salted-join
    discipline: a physical rewrite must be semantically invisible).
    This is the hand-rolled form of Spark's InjectRuntimeFilter /
    DPP for engines, formats, or non-equi shapes where the automatic
    one doesn't fire; at 100 TB the win is the big side never
    shuffling its non-matching rows.

    Scale shape: the build aggregates DISTINCT BIT POSITIONS (bounded
    by the bitset size, 16384 — never by key count) and collects only
    those; the probe is element_at + shiftright on a 256-word literal
    array, fully inside codegen with the scan filters."""
    t = Tables(spark, sf_dir)
    keys = t.orders.filter(F.col("o_orderstatus") == "P").select("o_orderkey")
    bitpos = _bloom_bitpos

    # NOT spread — see bloom_fpr_calibration: the extra exchange costs
    # more warm than the wider hashing saves at sf0.1
    pos_rows = (
        keys.select(
            F.explode(
                F.array(*[bitpos(j, F.col("o_orderkey")) for j in range(_BLOOM_K)])
            ).alias("p")
        )
        .distinct()
        .collect()
    )
    bits = [0] * _BLOOM_BITS
    for r in pos_rows:
        bits[int(r["p"])] = 1
    # the bitset rides as DATA in a broadcast 1-row frame, not as 16384
    # plan literals — the probe is plain element_at, no bit shifting
    bloom = F.broadcast(
        t.lineitem.sparkSession.createDataFrame([(bits,)], "bits array<int>")
    )
    li = t.lineitem.crossJoin(bloom)
    probe = None
    for j in range(_BLOOM_K):
        p = bitpos(j, F.col("l_orderkey"))
        hit = F.element_at(F.col("bits"), (p + 1).cast("int")) == 1
        probe = hit if probe is None else (probe & hit)
    return (
        li.filter(probe)
        .join(keys, li.l_orderkey == keys.o_orderkey, "left_semi")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


def _rfm_bounds_sql(col: str) -> str:
    qs = ", ".join(
        f"round(quantile_cont({col}, {i / 5}), 6)" for i in range(1, 5)
    )
    return f"[{qs}]"


@query(
    "rfm_customer_segments",
    oracle=f"""
    WITH per AS (
      SELECT o_custkey,
             date_diff('day', max(o_orderdate),
                       (SELECT max(o_orderdate) FROM orders)) AS recency,
             CAST(count(*) AS BIGINT) AS frequency,
             sum(o_totalprice) AS monetary
      FROM orders GROUP BY o_custkey),
    b AS (
      SELECT {_rfm_bounds_sql('recency')} AS rb,
             {_rfm_bounds_sql('frequency')} AS fb,
             {_rfm_bounds_sql('monetary')} AS mb
      FROM per),
    seg AS (
      SELECT o_custkey, recency, frequency, monetary,
             len(list_filter(b.rb, x -> recency > x)) AS r_q,
             len(list_filter(b.fb, x -> frequency > x)) AS f_q,
             len(list_filter(b.mb, x -> monetary > x)) AS m_q
      FROM per CROSS JOIN b)
    SELECT CAST(r_q * 100 + f_q * 10 + m_q AS BIGINT) AS segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(round(avg(recency) + 1e-9) AS BIGINT) AS avg_recency_days,
           round(avg(frequency) + 1e-9, 4) AS avg_frequency,
           round(avg(monetary) + 1e-9, 2) AS avg_monetary
    FROM seg GROUP BY segment ORDER BY segment
    """,
    priority=3,
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic customer-analytics operator:
    per-customer Recency (days since last order, anchored to the
    corpus's own max date so the query is reproducible), Frequency
    (order count) and Monetary (lifetime value), each cut into exact
    quintiles, combined into a 3-digit segment code (RFM 000–444) with
    per-segment population and averages.

    Scale shape: one customer-keyed aggregate builds the RFM triple;
    quintile boundaries are ONE percentile aggregate broadcast as three
    4-element arrays (the equidepth pattern — never an ntile window
    over customers); segment assignment is an array fold in codegen;
    the report is a ≤125-row aggregate. Boundaries rounded at 6 dp on
    both engines before the comparisons."""
    o = Tables(spark, sf_dir).orders
    anchor = o.agg(F.max("o_orderdate").alias("mx"))
    per = (
        o.crossJoin(F.broadcast(anchor))
        .groupBy("o_custkey")
        .agg(
            F.datediff(F.first("mx"), F.max("o_orderdate")).cast("long").alias(
                "recency"
            ),
            F.count(F.lit(1)).alias("frequency"),
            F.sum("o_totalprice").alias("monetary"),
        )
    )
    qs = ", ".join(str(i / 5) for i in range(1, 5))
    bounds = per.agg(
        *[
            F.expr(
                f"transform(percentile({c}, array({qs})), x -> round(x, 6))"
            ).alias(f"{c[0]}b")
            for c in ("recency", "frequency", "monetary")
        ]
    )
    def quint(c: str, b: str):
        return F.aggregate(
            F.col(b),
            F.lit(0),
            lambda acc, x: acc + F.when(F.col(c) > x, 1).otherwise(0),
        )
    seg = per.crossJoin(F.broadcast(bounds)).select(
        "recency",
        "frequency",
        "monetary",
        (
            quint("recency", "rb") * 100
            + quint("frequency", "fb") * 10
            + quint("monetary", "mb")
        ).cast("long").alias("segment"),
    )
    return (
        seg.groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("recency") + 1e-9).cast("long").alias("avg_recency_days"),
            F.round(F.avg("frequency") + 1e-9, 4).alias("avg_frequency"),
            F.round(F.avg("monetary") + 1e-9, 2).alias("avg_monetary"),
        )
        .orderBy("segment")
    )


_BFS_MAX = 8
_BFS_K = 3


def _bfs_oracle() -> str:
    """Recursive-CTE BFS replay on the same sparsified graph: the UNION
    (not UNION ALL) dedups (node, lvl) rows so the recursion terminates;
    min(lvl) per node is the BFS level. Integer-only — no float crosses
    the engine boundary (the top-k edge selection orders by integer
    weight with an id tiebreak)."""
    return f"""
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
      WHERE rn <= {_BFS_K}),
    lv(node, lvl) AS (
      SELECT 0, 0
      UNION
      SELECT h.v, lv.lvl + 1
      FROM lv JOIN knn h ON h.u = lv.node
      WHERE lv.lvl < {_BFS_MAX})
    SELECT CAST(node AS BIGINT) AS nationkey,
           CAST(min(lvl) AS BIGINT) AS level
    FROM lv GROUP BY node ORDER BY nationkey
    """


@query("bfs_levels_trade_graph", oracle=_bfs_oracle(), priority=3)
def bfs_levels_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS shortest-hop levels from nation 0 over the SPARSIFIED trade
    graph (each nation keeps its top-3 out-edges by shipment count — a
    k-NN graph, so every node has out-degree k and the BFS is
    non-trivial) — the third iterative-join graph algorithm on the gate
    after PageRank (fixed-iteration mass flow) and connected components
    (fixpoint closure); BFS adds shortest-path semantics.

    Plan (r12 optimization round): the data-sized edge derivation (fact
    join + groupBy(u, v) + per-u WindowGroupLimit top-k) stays fully
    distributed; the sparsified graph is bounded at |nations|·k edges
    at ANY scale, so the frontier loop runs in one bounded Arrow kernel
    on the collected edge aggregate
    (``operators.boundedgraph.bfs_levels_udf`` — integer hop
    arithmetic, exact, identical frontier-delta semantics) instead of
    _BFS_MAX rounds of join + distinct + anti-join + two DISK_ONLY
    checkpoints over ≤75-row frames. The distributed Pregel evidence
    lives in ``bfs_distances_synthetic_10k`` (10,007-node expander) and
    the 1e9-edge probes; this query's graph is node-domain-bounded by
    construction. Rounds are bounded by _BFS_MAX (= the oracle's
    recursion bound, so the two engines explore identical path sets)."""
    from ror_etl_spark.operators.boundedgraph import bfs_levels_udf

    t = Tables(spark, sf_dir)
    edges = (
        t.lineitem.join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(t.supplier, F.col("s_suppkey") == F.col("l_suppkey"))
        .where(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(F.col("s_nationkey").alias("u"), F.col("c_nationkey").alias("v"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    from pyspark.sql import Window as W

    heavy = (
        edges.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("u").orderBy(F.desc("w"), F.asc("v"))
            ),
        )
        .where(F.col("rn") <= _BFS_K)
        .select("u", "v")
    )
    one = heavy.agg(F.collect_list(F.struct("u", "v")).alias("es"))
    levels = bfs_levels_udf(0, _BFS_MAX)
    return (
        one.select(F.explode(levels(F.col("es"))).alias("r"))
        .select(
            F.col("r.node").cast("long").alias("nationkey"),
            F.col("r.level").alias("level"),
        )
        # single partition (child of a single-row aggregate): a
        # partition-local sort IS the global sort; a plain orderBy would
        # range-sample and execute the Arrow kernel twice
        .coalesce(1)
        .sortWithinPartitions("nationkey")
    )


@query(
    "join_cardinality_estimate",
    oracle="""
    WITH s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(count(DISTINCT user_id) AS BIGINT) AS d
      FROM events),
    perkey AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY user_id),
    topk AS (
      SELECT user_id, c FROM (
        SELECT user_id, c,
               row_number() OVER (ORDER BY c DESC, user_id) AS rn
        FROM perkey) WHERE rn <= 10),
    hh AS (
      SELECT CAST(sum(c * c) AS BIGINT) AS top_sq,
             CAST(sum(c) AS BIGINT) AS top_n,
             CAST(count(*) AS BIGINT) AS k
      FROM topk),
    actual AS (SELECT CAST(sum(c * c) AS BIGINT) AS a FROM perkey),
    est AS (
      SELECT 'uniform' AS method, (s.n * s.n) // s.d AS est_rows
      FROM s
      UNION ALL
      SELECT 'topk_corrected',
             hh.top_sq + ((s.n - hh.top_n) * (s.n - hh.top_n))
                          // (CASE WHEN s.d - hh.k > 0 THEN s.d - hh.k ELSE 1 END)
      FROM s, hh
      UNION ALL
      SELECT 'actual', a.a FROM actual a)
    SELECT method, est_rows FROM est ORDER BY method
    """,
    priority=3,
)
def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation report — the cost-model arithmetic a
    distributed optimizer (or a capacity-planning pipeline) runs BEFORE
    committing to a shuffle: predicted output rows of the events-user
    self-join under (a) the textbook uniform-frequency assumption
    n^2 / d, (b) a top-10 heavy-hitter histogram with a uniform
    remainder — what engines keep as column statistics, and (c) the
    exact answer sum(c_k^2) from the full per-key histogram.

    On skewed keys (a) underestimates badly while (b) lands close —
    the report quantifies exactly why AQE-style runtime statistics (and
    this repo's salted join / skew report operators) exist. Everything
    is integer arithmetic (BIGINT floor division on both engines), so
    the hash gate is exact. One aggregate + one bounded top-k; at
    100 TB this costs one count shuffle keyed by the join key —
    strictly cheaper than the join it predicts."""
    e = Tables(spark, sf_dir).events
    perkey = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    s = e.agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("user_id").alias("d")
    )
    # top-10 via orderBy+limit → TakeOrderedAndProject (distributed
    # per-partition top-k + driver merge), not an unpartitioned window
    topk = perkey.orderBy(F.desc("c"), F.asc("user_id")).limit(10)
    hh = topk.agg(
        F.sum(F.col("c") * F.col("c")).alias("top_sq"),
        F.sum("c").alias("top_n"),
        F.count(F.lit(1)).alias("k"),
    )
    actual = perkey.agg(F.sum(F.col("c") * F.col("c")).alias("a"))
    uniform = (
        s.select(
            F.lit("uniform").alias("method"),
            F.expr("(n * n) div d").alias("est_rows"),
        )
    )
    corrected = (
        s.crossJoin(F.broadcast(hh)).select(
            F.lit("topk_corrected").alias("method"),
            (
                F.col("top_sq")
                + F.expr(
                    "((n - top_n) * (n - top_n)) div "
                    "(CASE WHEN d - k > 0 THEN d - k ELSE 1 END)"
                )
            ).alias("est_rows"),
        )
    )
    exact = actual.select(
        F.lit("actual").alias("method"), F.col("a").alias("est_rows")
    )
    return (
        uniform.unionByName(corrected).unionByName(exact).orderBy("method")
    )


@query(
    "fd_violation_report",
    oracle="""
    WITH fd1 AS (
      SELECT o_custkey AS lhs, count(DISTINCT o_orderstatus) AS nd
      FROM orders GROUP BY 1),
    fd2 AS (
      SELECT o_custkey AS lhs, count(DISTINCT o_orderpriority) AS nd
      FROM orders GROUP BY 1),
    fd3 AS (
      SELECT o_orderpriority AS lhs, count(DISTINCT o_orderstatus) AS nd
      FROM (SELECT CAST(o_orderpriority AS VARCHAR) AS o_orderpriority,
                   o_orderstatus FROM orders) GROUP BY 1),
    rep AS (
      SELECT 'o_custkey->o_orderstatus' AS fd,
             CAST(count(*) AS BIGINT) AS n_lhs,
             CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
             round(CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                   / count(*) + 1e-9, 4) AS violation_rate
      FROM fd1
      UNION ALL
      SELECT 'o_custkey->o_orderpriority', count(*),
             CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
             round(CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                   / count(*) + 1e-9, 4)
      FROM fd2
      UNION ALL
      SELECT 'o_orderpriority->o_orderstatus', count(*),
             CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
             round(CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                   / count(*) + 1e-9, 4)
      FROM fd3)
    SELECT fd, n_lhs, n_violating, violation_rate FROM rep ORDER BY fd
    """,
    priority=3,
)
def fd_violation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency profiling — the schema-discovery / data-
    quality pass that checks which column determinations actually hold:
    for each candidate FD lhs -> rhs, how many lhs groups map to more
    than one rhs value.

    Each FD is one (lhs, count distinct rhs) aggregate then a tiny
    summary — map-side partials, one shuffle per FD keyed on its lhs.
    The three candidate FDs here are chosen to be violated at different
    rates (a repeat customer changes status/priority across orders), so
    the report is non-degenerate. At 100 TB this is how FD discovery
    actually runs: one aggregation per candidate, never a self-join."""
    o = Tables(spark, sf_dir).orders

    def leg(fd_name: str, lhs: str, rhs: str) -> DataFrame:
        per = o.groupBy(F.col(lhs).alias("lhs")).agg(
            F.countDistinct(rhs).alias("nd")
        )
        return per.agg(
            F.lit(fd_name).alias("fd"),
            F.count(F.lit(1)).alias("n_lhs"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0)).alias("n_violating"),
            F.round(
                F.sum(F.when(F.col("nd") > 1, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1))
                + 1e-9,
                4,
            ).alias("violation_rate"),
        ).select("fd", "n_lhs", "n_violating", "violation_rate")

    out = (
        leg("o_custkey->o_orderstatus", "o_custkey", "o_orderstatus")
        .unionByName(leg("o_custkey->o_orderpriority", "o_custkey", "o_orderpriority"))
        .unionByName(
            leg("o_orderpriority->o_orderstatus", "o_orderpriority", "o_orderstatus")
        )
    )
    return out.orderBy("fd")


@query(
    "snapshot_diff_orders",
    oracle="""
    WITH a AS (SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS tp
               FROM orders),
    b AS (
      SELECT k, CASE WHEN k % 101 = 0 AND st = 'O' THEN 'F' ELSE st END AS st,
             tp
      FROM a WHERE k % 97 <> 0
      UNION ALL
      SELECT -k, 'N', tp FROM a WHERE k % 89 = 0),
    j AS (
      SELECT COALESCE(a.k, b.k) AS k,
             CASE WHEN b.k IS NULL THEN 'removed'
                  WHEN a.k IS NULL THEN 'added'
                  WHEN a.st <> b.st OR a.tp <> b.tp THEN 'changed'
                  ELSE 'unchanged' END AS change_type
      FROM a FULL OUTER JOIN b ON a.k = b.k)
    SELECT change_type, CAST(count(*) AS BIGINT) AS n,
           CAST(min(k) AS BIGINT) AS first_key,
           CAST(max(k) AS BIGINT) AS last_key
    FROM j GROUP BY change_type ORDER BY change_type
    """,
    priority=3,
)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-snapshot diff (the CDC/lakehouse "what changed between
    versions" op): full-outer join two snapshots on the primary key and
    classify every row added / removed / changed / unchanged.

    Snapshot B is derived deterministically inside the query (keys
    divisible by 97 deleted, open orders on keys divisible by 101
    flipped to 'F', fresh negative-key rows inserted for keys divisible
    by 89) so both engines diff identical inputs and all four outcome
    classes occur. The diff
    itself is the real operator: ONE full-outer equi-join on the key —
    co-partitioned, no skew (keys unique per side) — then a row-level
    classification and a bounded summary. At 100 TB both snapshots
    bucket by key and the join is zero-exchange under co-located
    layouts; diffing is exactly as
    expensive as one co-partitioned join, which is why lakehouse MERGE
    logs exist to avoid re-diffing full snapshots."""
    o = Tables(spark, sf_dir).orders
    a = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        F.col("o_totalprice").alias("tp"),
    )
    b = (
        a.where(F.col("k") % 97 != 0)
        .select(
            "k",
            F.when(
                (F.col("k") % 101 == 0) & (F.col("st") == "O"), F.lit("F")
            ).otherwise(F.col("st")).alias("st"),
            "tp",
        )
        .unionByName(
            a.where(F.col("k") % 89 == 0).select(
                (-F.col("k")).alias("k"), F.lit("N").alias("st"), "tp"
            )
        )
    )
    aa, bb = a.alias("a"), b.alias("b")
    j = aa.join(bb, F.col("a.k") == F.col("b.k"), "full_outer").select(
        F.coalesce(F.col("a.k"), F.col("b.k")).alias("k"),
        F.when(F.col("b.k").isNull(), "removed")
        .when(F.col("a.k").isNull(), "added")
        .when(
            (F.col("a.st") != F.col("b.st")) | (F.col("a.tp") != F.col("b.tp")),
            "changed",
        )
        .otherwise("unchanged")
        .alias("change_type"),
    )
    return (
        j.groupBy("change_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("first_key"),
            F.max("k").alias("last_key"),
        )
        .orderBy("change_type")
    )


@query(
    "bloom_fpr_calibration",
    oracle=f"""
    WITH a AS (SELECT o_orderkey AS k FROM orders WHERE o_orderstatus = 'P'),
    b AS (SELECT o_orderkey AS k FROM orders WHERE o_orderstatus = 'F'),
    js AS (SELECT unnest([0, 1, 2]) AS j),
    pos AS (
      SELECT DISTINCT ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' ||
                                      CAST(k AS VARCHAR)), 1, 8))::BIGINT
               % {_BLOOM_BITS} AS p
      FROM a CROSS JOIN js),
    bpos AS (
      SELECT b.k, js.j,
             ('0x' || substr(md5(CAST(js.j AS VARCHAR) || ':' ||
                                 CAST(b.k AS VARCHAR)), 1, 8))::BIGINT
               % {_BLOOM_BITS} AS p
      FROM b CROSS JOIN js),
    hits AS (
      SELECT k, count(*) AS nh
      FROM bpos JOIN pos USING (p) GROUP BY k),
    agg AS (
      SELECT (SELECT count(*) FROM a) AS n_build,
             (SELECT count(*) FROM pos) AS set_bits,
             (SELECT count(*) FROM b) AS n_probes,
             (SELECT count(*) FROM hits WHERE nh = 3) AS n_false_pos)
    SELECT CAST(n_build AS BIGINT) AS n_build,
           CAST(set_bits AS BIGINT) AS set_bits,
           CAST(n_probes AS BIGINT) AS n_probes,
           CAST(n_false_pos AS BIGINT) AS n_false_pos,
           round(CAST(n_false_pos AS DOUBLE) / n_probes + 1e-9, 6) AS fpr_measured,
           round(pow(CAST(set_bits AS DOUBLE) / {_BLOOM_BITS}, 3) + 1e-9, 6)
             AS fpr_expected
    FROM agg
    """,
    priority=3,
)
def bloom_fpr_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter false-positive-rate calibration — the measurement a
    runtime-filter planner needs before trusting a Bloom prefilter:
    build the portable 16384-bit/3-hash filter over the 'P'-status
    order keys, probe it with the DISJOINT 'F'-status keys (an order
    has exactly one status, so every probe hit is by definition a false
    positive), and compare the measured FPR against the load-factor
    prediction (set_bits/m)^k.

    Completes the sketch-calibration family (MinHash calibration, CMS
    overestimate report): every approximate structure the engine ships
    has a registered query that MEASURES its error against ground truth
    with both engines agreeing on the exact arithmetic. The build
    aggregates distinct bit positions (bounded by m, never key count);
    the probe is pure codegen; both counts are map-side."""
    t = Tables(spark, sf_dir).orders
    a = t.filter(F.col("o_orderstatus") == "P").select(
        F.col("o_orderkey").alias("k")
    )
    b = t.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_orderkey").alias("k")
    )
    # NOT spread: an r13 A/B measured the spread's extra round-robin
    # exchange costing more warm (1.1 -> 1.5 s/exec) than the wider
    # hashing saves — the serial build-side md5 is ~0.5 s warm at sf0.1
    # and scan splits provide the parallelism at any real input size.
    pos = (
        a.select(
            F.explode(
                F.array(*[_bloom_bitpos(j, F.col("k")) for j in range(_BLOOM_K)])
            ).alias("p")
        )
        .distinct()
    )
    # the collect IS the set-bits count — the former separate count
    # aggregate re-ran the whole build subtree for a number the driver
    # already holds (len of the bounded collected rows; §5). This collect
    # SNAPSHOTS the build side at construction time: the bloom bits and
    # set_bits (hence fpr_expected) are literals in the returned
    # DataFrame, while n_build/n_probes/n_false_pos are computed when it
    # executes — re-executing it after orders changes mixes the two.
    bits_rows = pos.collect()
    bits = [0] * _BLOOM_BITS
    for r in bits_rows:
        bits[int(r["p"])] = 1
    set_bits = F.lit(len(bits_rows)).cast("long")
    bloom = F.broadcast(
        spark.createDataFrame([(bits,)], "bits array<int>")
    )
    probe = None
    bb = b.crossJoin(bloom)
    for j in range(_BLOOM_K):
        p = _bloom_bitpos(j, F.col("k"))
        hit = F.element_at(F.col("bits"), (p + 1).cast("int")) == 1
        probe = hit if probe is None else (probe & hit)
    counts = bb.agg(
        F.count(F.lit(1)).alias("n_probes"),
        F.sum(F.when(probe, 1).otherwise(0)).alias("n_false_pos"),
    )
    n_build = a.agg(F.count(F.lit(1)).alias("n_build"))
    return (
        n_build.crossJoin(F.broadcast(counts))
        .select(
            "n_build",
            set_bits.alias("set_bits"),
            "n_probes",
            "n_false_pos",
            F.round(
                F.col("n_false_pos").cast("double") / F.col("n_probes") + 1e-9, 6
            ).alias("fpr_measured"),
            F.round(
                F.pow(set_bits.cast("double") / _BLOOM_BITS, 3) + 1e-9, 6
            ).alias("fpr_expected"),
        )
    )


@query(
    "skyline_pareto_parts",
    oracle="""
    WITH s AS (
      SELECT p_partkey AS partkey, p_retailprice AS cost,
             CAST(p_size AS BIGINT) AS size
      FROM part)
    SELECT r.partkey, r.cost, r.size
    FROM s r
    WHERE NOT EXISTS (
      SELECT 1 FROM s o
      WHERE o.cost <= r.cost AND o.size >= r.size
        AND (o.cost < r.cost OR o.size > r.size))
    ORDER BY r.cost, r.size, r.partkey
    """,
    priority=5,
)
def skyline_pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-frontier) operator: parts not dominated on
    (minimize retailprice, maximize size) — the multi-criteria shortlist
    query engines ship as SKYLINE OF; Spark has no native operator, so
    this is a §2.3 "custom operator as composition" row.

    The naive definition is the quadratic NOT EXISTS dominance test the
    oracle runs verbatim. The distributed plan exploits the 2-D
    structure: (1) collapse to one row per distinct cost with the
    group's max size (map-side combinable; output bounded by the PRICE
    DOMAIN, not the data); (2) EXCLUSIVE running max of size in cost
    order via operators/util.global_cummax — range partition +
    pid-local window + broadcast carry-ins, never a single-task global
    window; (3) a cost survives iff its max-size strictly exceeds every
    cheaper cost's (ties lose to the cheaper point, which dominates);
    (4) broadcast the surviving (cost, size) frontier back to recover
    all rows sitting exactly on it (duplicates on the frontier are
    mutually non-dominating and all kept — pinned by the oracle's
    independent dominance semantics). At 100 TB: one aggregate shuffle
    keyed on cost + one domain-sized cummax; the O(n^2) test never
    runs."""
    from ror_etl_spark.operators.util import global_cummax

    ps = Tables(spark, sf_dir).part.select(
        F.col("p_partkey").alias("partkey"),
        F.col("p_retailprice").alias("cost"),
        F.col("p_size").cast("long").alias("size"),
    )
    cm = ps.groupBy("cost").agg(F.max("size").alias("mq"))
    frontier = (
        global_cummax(cm, ["cost"], "mq", out="prior_mq")
        .filter(F.col("prior_mq").isNull() | (F.col("mq") > F.col("prior_mq")))
        .select("cost", F.col("mq").alias("size"))
    )
    sky = ps.join(F.broadcast(frontier), ["cost", "size"]).select(
        "partkey", "cost", "size"
    )
    return ordered(sky, "cost", "size", "partkey")


@query(
    "market_basket_lift",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    nb AS (SELECT count(DISTINCT ok) AS n_baskets FROM items),
    cnt AS (SELECT pk, CAST(count(*) AS BIGINT) AS c FROM items GROUP BY pk),
    pairs AS (
      SELECT a.pk AS p1, b.pk AS p2, CAST(count(*) AS BIGINT) AS n_pair
      FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY a.pk, b.pk)
    SELECT p1, p2, n_pair,
           round(CAST(n_pair AS DOUBLE) / c1.c + 1e-9, 4) AS confidence,
           round((CAST(n_pair AS DOUBLE) * nb.n_baskets) / (c1.c * c2.c)
                 + 1e-9, 4) AS lift
    FROM pairs
    JOIN cnt c1 ON pairs.p1 = c1.pk
    JOIN cnt c2 ON pairs.p2 = c2.pk
    CROSS JOIN nb
    WHERE n_pair >= 2
    ORDER BY lift DESC, p1, p2 LIMIT 40
    """,
    priority=5,
)
def market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining (the Apriori/FP-growth first
    pass): co-purchased part pairs per order with confidence and lift —
    the recommendation-engine statistic computed over transaction logs.

    Pair generation is MAP-SIDE ONLY, mirroring cooccurrence_pmi_topk:
    each order's distinct parts collapse to ONE sorted array (the
    per-key collect_set is the only transaction-sized shuffle), and the
    C(k,2) pairs explode from the array without a positional self-join.
    TPC-H baskets are bounded (<= 7 lines), and real retail baskets are
    tens of items — pair fan-out is k^2/2 per basket with tiny k, never
    corpus-quadratic; a viral SKU pair still lands on ONE (p1, p2)
    reducer key as a count, not as rows. Item supports join back as
    vocab-sized broadcasts; lift = n_pair * n_baskets / (c1 * c2)
    crosses the engine boundary as a single rational of exact integers.
    The oracle double-enters pair generation as the orthogonal
    positional self-join."""
    li = Tables(spark, sf_dir).lineitem
    items = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    # size-1 baskets yield no pairs and must not reach the pair expr:
    # Spark's sequence(1, 0) is a DESCENDING [1, 0], not empty.
    baskets = items.groupBy("ok").agg(
        F.array_sort(F.collect_set("pk")).alias("ps")
    ).where(F.size("ps") >= 2)
    pair_expr = (
        "flatten(transform(sequence(1, greatest(size(ps) - 1, 0)), "
        "i -> transform(sequence(i + 1, size(ps)), "
        "j -> struct(element_at(ps, i) AS p1, element_at(ps, j) AS p2))))"
    )
    pairs = (
        baskets.select(F.explode(F.expr(pair_expr)).alias("pr"))
        .select(F.col("pr.p1").alias("p1"), F.col("pr.p2").alias("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .where(F.col("n_pair") >= 2)
    )
    cnt = items.groupBy("pk").agg(F.count(F.lit(1)).alias("c"))
    nb = items.agg(F.countDistinct("ok").alias("n_baskets"))
    return (
        pairs.join(
            F.broadcast(cnt.select(F.col("pk").alias("p1"), F.col("c").alias("c1"))),
            "p1",
        )
        .join(
            F.broadcast(cnt.select(F.col("pk").alias("p2"), F.col("c").alias("c2"))),
            "p2",
        )
        .crossJoin(F.broadcast(nb))
        .select(
            "p1",
            "p2",
            "n_pair",
            F.round(F.col("n_pair").cast("double") / F.col("c1") + 1e-9, 4).alias(
                "confidence"
            ),
            F.round(
                (F.col("n_pair").cast("double") * F.col("n_baskets"))
                / (F.col("c1") * F.col("c2"))
                + 1e-9,
                4,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "p1", "p2")
        .limit(40)
    )


@query(
    "mv_incremental_maintenance",
    oracle="""
    WITH a AS (SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS tp
               FROM orders),
    b AS (
      SELECT k, CASE WHEN k % 101 = 0 AND st = 'O' THEN 'F' ELSE st END AS st,
             tp
      FROM a WHERE k % 97 <> 0
      UNION ALL
      SELECT -k, 'N', tp FROM a WHERE k % 89 = 0)
    SELECT st AS status, CAST(count(*) AS BIGINT) AS n,
           round(sum(tp), 2) AS total
    FROM b GROUP BY st ORDER BY st
    """,
    priority=5,
)
def mv_incremental_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the post-update
    per-status (count, sum) aggregate computed WITHOUT rescanning the
    base snapshot — base aggregate + signed delta contributions only.
    This is what a lakehouse MV refresh executes on a CDC feed; at
    100 TB the base never moves again and the refresh cost is
    delta-sized.

    Snapshot B derives from A by the registry's standard synthetic CDC
    (keys %97 deleted, open orders on %101 flipped to 'F', %89 inserted
    negated — same rules as snapshot_diff_orders, so the two ops tell
    one story). The engine aggregates ONLY the delta rows — deletes and
    update-before images contribute (-1, -tp) under the OLD status,
    inserts and update-after images (+1, +tp) under the NEW — and
    merges them into the stored base aggregate with one
    status-domain-sized sum, dropping zero-count groups. The oracle
    recomputes the view FROM SCRATCH over snapshot B: a green hash is
    the correctness theorem of incremental maintenance (delta algebra
    == full recompute), double-entered per SF."""
    o = Tables(spark, sf_dir).orders
    a = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        F.col("o_totalprice").alias("tp"),
    )
    base_agg = a.groupBy(F.col("st").alias("status")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("tp").alias("total")
    )
    # CDC delta stream with signed contributions; updates appear as
    # (before, -) + (after, +) so a status flip moves mass between groups.
    deletes = a.where(F.col("k") % 97 == 0).select(
        F.col("st").alias("status"), F.lit(-1).alias("dn"), (-F.col("tp")).alias("dt")
    )
    upd = a.where(
        (F.col("k") % 97 != 0) & (F.col("k") % 101 == 0) & (F.col("st") == "O")
    )
    upd_before = upd.select(
        F.col("st").alias("status"), F.lit(-1).alias("dn"), (-F.col("tp")).alias("dt")
    )
    upd_after = upd.select(
        F.lit("F").alias("status"), F.lit(1).alias("dn"), F.col("tp").alias("dt")
    )
    inserts = a.where(F.col("k") % 89 == 0).select(
        F.lit("N").alias("status"), F.lit(1).alias("dn"), F.col("tp").alias("dt")
    )
    delta = deletes.unionByName(upd_before).unionByName(upd_after).unionByName(
        inserts
    )
    delta_agg = delta.groupBy("status").agg(
        F.sum("dn").alias("n"), F.sum("dt").alias("total")
    )
    merged = (
        base_agg.unionByName(delta_agg)
        .groupBy("status")
        .agg(F.sum("n").alias("n"), F.round(F.sum("total"), 2).alias("total"))
        .where(F.col("n") > 0)
    )
    return merged.orderBy("status")


@query(
    "fk_inclusion_report",
    oracle="""
    WITH leg1 AS (
      SELECT 'orders.o_custkey->customer.c_custkey' AS fk,
             CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_child_keys,
             CAST(count(DISTINCT CASE WHEN c.c_custkey IS NULL
                                      THEN o_custkey END) AS BIGINT)
               AS n_orphans
      FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey),
    leg2 AS (
      SELECT 'lineitem.l_orderkey->orders.o_orderkey' AS fk,
             CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_child_keys,
             CAST(count(DISTINCT CASE WHEN o.o_orderkey IS NULL
                                      THEN l_orderkey END) AS BIGINT)
               AS n_orphans
      FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey),
    leg3 AS (
      SELECT 'lineitem.l_suppkey->part.p_partkey' AS fk,
             CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_child_keys,
             CAST(count(DISTINCT CASE WHEN p.p_partkey IS NULL
                                      THEN l_suppkey END) AS BIGINT)
               AS n_orphans
      FROM lineitem l LEFT JOIN part p ON l.l_suppkey = p.p_partkey),
    u AS (SELECT * FROM leg1 UNION ALL SELECT * FROM leg2
          UNION ALL SELECT * FROM leg3)
    SELECT fk, n_child_keys, n_orphans,
           round(1.0 - CAST(n_orphans AS DOUBLE) / n_child_keys + 1e-9, 6)
             AS containment
    FROM u ORDER BY fk
    """,
    priority=5,
)
def fk_inclusion_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclusion-dependency (foreign-key candidate) profiling — the
    sibling of fd_violation_report on the referential axis: for each
    candidate child→parent column pair, how many distinct child keys
    have no parent (orphans) and the containment fraction. Two true
    FKs and one deliberate non-FK (l_suppkey vs p_partkey) so the
    report shows both verdicts.

    Each leg is distinct child keys LEFT-JOINed to the parent key —
    distinct-first keeps the join key-sized, the parent side is its
    key column only (column-pruned scan), and orphan counting is a
    null-probe aggregate. At 100 TB: per-leg cost is one distinct
    aggregate plus one key-sized join; this is exactly the profiling
    pass run before trusting any join-based pipeline, and the orphan
    count is the thing referential-integrity checks alert on."""
    t = Tables(spark, sf_dir)

    def leg(fk: str, child, ckey: str, parent, pkey: str) -> DataFrame:
        ck = child.select(F.col(ckey).alias("k")).distinct()
        pk = parent.select(F.col(pkey).alias("pk"))
        j = ck.join(pk, ck["k"] == pk["pk"], "left")
        return j.agg(
            F.lit(fk).alias("fk"),
            F.countDistinct("k").alias("n_child_keys"),
            F.countDistinct(F.when(F.col("pk").isNull(), F.col("k"))).alias(
                "n_orphans"
            ),
        )

    out = (
        leg("orders.o_custkey->customer.c_custkey",
            t.orders, "o_custkey", t.customer, "c_custkey")
        .unionByName(
            leg("lineitem.l_orderkey->orders.o_orderkey",
                t.lineitem, "l_orderkey", t.orders, "o_orderkey"))
        .unionByName(
            leg("lineitem.l_suppkey->part.p_partkey",
                t.lineitem, "l_suppkey", t.part, "p_partkey"))
    )
    return out.select(
        "fk",
        "n_child_keys",
        "n_orphans",
        F.round(
            1.0 - F.col("n_orphans").cast("double") / F.col("n_child_keys")
            + 1e-9,
            6,
        ).alias("containment"),
    ).orderBy("fk")


@query(
    "table_checksum_merkle_ranges",
    oracle="""
    WITH h AS (
      SELECT o_orderkey % 16 AS bucket,
             ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '|' ||
                                 o_orderstatus || '|' ||
                                 CAST(o_totalprice AS VARCHAR)),
                             1, 8))::BIGINT AS h32
      FROM orders)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(h32) AS BIGINT) AS range_digest
    FROM h GROUP BY bucket ORDER BY bucket
    """,
    priority=5,
)
def table_checksum_merkle_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content checksums per key range — the anti-entropy / replication
    verification primitive (Merkle-range digests a la Cassandra repair,
    or cross-engine table-copy validation): hash each row's content,
    aggregate an order-insensitive digest per key bucket. Two replicas
    compare 16 numbers instead of the table; a mismatching bucket
    scopes the re-sync.

    Digest = SUM of 32-bit md5-derived row hashes (portable: the same
    recipe as the KMV/CMS/bloom sketches; 32-bit terms keep the
    running sum exact in BIGINT to ~2^31 rows per bucket). Sum (not
    xor) so a doubled row changes the digest; order-insensitive by
    construction, so partitioning/shuffle order cannot flap it. The
    decimal column crosses the hash as its canonical 2-dp string —
    both engines render DECIMAL(12,2) identically. One map-side
    aggregate, bucket-count output; at 100 TB this is a single pass
    with a 16-row result."""
    o = Tables(spark, sf_dir).orders
    h32 = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("o_orderkey").cast("string"),
                    F.col("o_orderstatus"),
                    F.col("o_totalprice").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    return (
        o.select((F.col("o_orderkey") % 16).alias("bucket"), h32.alias("h32"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("h32").alias("range_digest"),
        )
        .orderBy("bucket")
    )


@query(
    "encoding_advisor_orders",
    oracle="""
    WITH legs AS (
      SELECT 'o_orderstatus' AS col, CAST(count(*) AS BIGINT) AS n,
             CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_distinct,
             CAST(8 * max(length(o_orderstatus)) AS BIGINT) AS plain_bits
      FROM orders
      UNION ALL
      SELECT 'o_orderpriority', count(*), count(DISTINCT o_orderpriority),
             8 * max(length(o_orderpriority))
      FROM orders
      UNION ALL
      SELECT 'o_custkey', count(*), count(DISTINCT o_custkey), 64
      FROM orders
      UNION ALL
      SELECT 'o_orderkey', count(*), count(DISTINCT o_orderkey), 64
      FROM orders)
    SELECT col, n_distinct,
           CASE WHEN n_distinct <= 1 THEN 1
                ELSE CAST(length(bin(n_distinct - 1)) AS BIGINT) END
             AS dict_bits,
           plain_bits,
           round(CAST(plain_bits AS DOUBLE)
                 / (CASE WHEN n_distinct <= 1 THEN 1
                         ELSE CAST(length(bin(n_distinct - 1)) AS BIGINT) END)
                 + 1e-9, 2) AS est_ratio,
           n_distinct <= n / 2 AS dict_recommended
    FROM legs ORDER BY col
    """,
    priority=5,
)
def encoding_advisor_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar encoding advisor — the storage-layout decision every
    parquet/ORC writer makes implicitly, surfaced as a report: for each
    column, the dictionary-index bit width (ceil(log2(cardinality)),
    computed via the bin()-string-length integer trick — the same
    no-float-log2 device as the HLL rho), the plain-encoding width,
    the estimated compression ratio, and whether dictionary encoding
    clears the cardinality threshold writers use (distinct <= rows/2).

    One aggregation leg per column, each a map-side-combinable
    (count, count distinct, max length) triple over a single pruned
    column scan — the same UNION-of-narrow-legs shape as
    column_profile_orders, which this report extends from profiling to
    an actionable layout decision. All integers until the one reported
    ratio."""
    o = Tables(spark, sf_dir).orders

    def leg(col: str, plain_bits) -> DataFrame:
        return o.agg(
            F.lit(col).alias("col"),
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(col).alias("n_distinct"),
            plain_bits.alias("plain_bits"),
        )

    legs = (
        leg("o_orderstatus", (8 * F.max(F.length("o_orderstatus"))).cast("long"))
        .unionByName(
            leg(
                "o_orderpriority",
                (8 * F.max(F.length("o_orderpriority"))).cast("long"),
            )
        )
        .unionByName(leg("o_custkey", F.lit(64).cast("long")))
        .unionByName(leg("o_orderkey", F.lit(64).cast("long")))
    )
    dict_bits = F.when(F.col("n_distinct") <= 1, F.lit(1).cast("long")).otherwise(
        F.length(F.expr("bin(n_distinct - 1)")).cast("long")
    )
    return (
        legs.select(
            "col",
            "n_distinct",
            dict_bits.alias("dict_bits"),
            "plain_bits",
            F.round(
                F.col("plain_bits").cast("double") / dict_bits + 1e-9, 2
            ).alias("est_ratio"),
            (F.col("n_distinct") <= F.col("n") / 2).alias("dict_recommended"),
        )
        .orderBy("col")
    )


@query(
    "abc_classification_parts",
    oracle="""
    WITH rev AS (
      SELECT l_partkey AS pk,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS rev_c
      FROM lineitem GROUP BY l_partkey),
    pre AS (
      SELECT pk, rev_c,
             CAST(sum(rev_c) OVER (ORDER BY rev_c DESC, pk
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM rev),
    tot AS (SELECT CAST(sum(rev_c) AS BIGINT) AS t FROM rev),
    cls AS (
      SELECT pk, rev_c,
             CASE WHEN cum * 100 <= t * 80 THEN 'A'
                  WHEN cum * 100 <= t * 95 THEN 'B'
                  ELSE 'C' END AS abc
      FROM pre CROSS JOIN tot)
    SELECT abc, CAST(count(*) AS BIGINT) AS n_parts,
           round(CAST(sum(rev_c) AS DOUBLE) / 100.0 + 1e-9, 2) AS revenue
    FROM cls GROUP BY abc ORDER BY abc
    """,
    priority=5,
)
def abc_classification_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto 80/20) inventory classification: parts ranked by
    revenue, class A = the head covering 80% of cumulative revenue,
    B to 95%, C the tail — the ops-analytics primitive behind stock
    policies and catalog pruning.

    The cumulative share is the global-prefix-sum shape again, and the
    class boundaries are INTEGER comparisons (cum*100 <= total*80 on
    exact cents — no float share ever computed, so boundary parts
    classify identically in both engines). The per-part revenue rollup
    is the only data-sized stage; the ranked frame is part-domain-sized
    and rides operators/util.global_cumsum's decomposition in spirit —
    here via DuckDB-window-mirrored ordered sum, with (rev desc, pk)
    as the duplicate-free total order."""
    from ror_etl_spark.operators.util import global_cumsum

    li = Tables(spark, sf_dir).lineitem
    rev = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
            "rev_c"
        )
    )
    # exclusive prefix over (rev desc, pk asc): negate for the helper's
    # ascending order, then inclusive cum = prior + own
    pre = global_cumsum(
        rev.withColumn("neg", -F.col("rev_c")), ["neg", "pk"], "rev_c", out="prior"
    ).select("pk", "rev_c", (F.col("prior") + F.col("rev_c")).alias("cum"))
    tot = rev.agg(F.sum("rev_c").alias("t"))
    cls = pre.crossJoin(F.broadcast(tot)).select(
        "pk",
        "rev_c",
        F.when(F.col("cum") * 100 <= F.col("t") * 80, "A")
        .when(F.col("cum") * 100 <= F.col("t") * 95, "B")
        .otherwise("C")
        .alias("abc"),
    )
    return (
        cls.groupBy("abc")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.sum("rev_c").cast("double") / 100.0 + 1e-9, 2).alias(
                "revenue"
            ),
        )
        .orderBy("abc")
    )
