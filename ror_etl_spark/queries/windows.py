"""Window functions: ranking, per-group top-k, running/moving frames,
lag/lead, global top-k, gap-based sessionization.

Scale notes: every window here partitions by a real key (custkey /
user_id) so state stays bounded per partition; there is no
``Window.orderBy`` without ``partitionBy`` (which would serialize the whole
dataset through one task). Global top-k goes through
``orderBy().limit(k)`` which Spark executes as TakeOrderedAndProject —
per-partition heaps + driver merge, no total sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ror_etl_spark.registry import query
from ror_etl_spark.tables import Tables
from ror_etl_spark.queries.util import epoch_us, r2, r4, ravg4


@query(
    "window_topk_per_group",
    oracle="""
    SELECT c_custkey, o_orderkey, round(o_totalprice, 2) AS price, CAST(rn AS INT) AS rn FROM (
      SELECT o_custkey AS c_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders)
    WHERE rn <= 3
    ORDER BY c_custkey, rn
    """,
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by price (row_number ≤ k pattern)."""
    o = Tables(spark, sf_dir).orders
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            F.col("o_custkey").alias("c_custkey"),
            "o_orderkey",
            r2(F.col("o_totalprice")).alias("price"),
            "rn",
        )
        # no trailing sort: gate hashes order-insensitively (cf. ultimate_parent_rollup_wide)
    )


@query(
    "window_rank_dense",
    oracle="""
    SELECT o_orderpriority, o_orderkey,
           CAST(rank()       OVER (PARTITION BY o_orderpriority ORDER BY o_orderstatus, o_orderkey) AS INT) AS rnk,
           CAST(dense_rank() OVER (PARTITION BY o_orderpriority ORDER BY o_orderstatus) AS INT) AS drnk
    FROM orders
    WHERE o_orderkey <= 500
    ORDER BY o_orderpriority, o_orderkey
    """,
)
def window_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank with ties (on a keyed subset for a compact result)."""
    o = Tables(spark, sf_dir).orders.filter(F.col("o_orderkey") <= 500)
    by_status = W.partitionBy("o_orderpriority").orderBy("o_orderstatus", "o_orderkey")
    by_status_only = W.partitionBy("o_orderpriority").orderBy("o_orderstatus")
    return (
        o.select(
            "o_orderpriority",
            "o_orderkey",
            F.rank().over(by_status).alias("rnk"),
            F.dense_rank().over(by_status_only).alias("drnk"),
        )
        .orderBy("o_orderpriority", "o_orderkey")
    )


@query(
    "window_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
    FROM orders
    ORDER BY o_custkey, o_orderkey
    """,
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative spend per customer over order time."""
    o = Tables(spark, sf_dir).orders
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            r2(F.sum("o_totalprice").over(w)).alias("running_spend"),
        )
    )


@query(
    "window_moving_avg",
    oracle="""
    SELECT user_id, event_id,
           round(avg(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) + 1e-9, 4) AS mavg7
    FROM events
    ORDER BY user_id, event_id
    """,
)
def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-row moving average of event values per user."""
    e = Tables(spark, sf_dir).events
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-6, W.currentRow)
    return (
        e.select("user_id", "event_id", ravg4(F.avg("value").over(w)).alias("mavg7"))
        .orderBy("user_id", "event_id")
    )


@query(
    "window_lag_lead",
    oracle="""
    SELECT user_id, event_id, event_type,
           lag(event_type)  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
           lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type,
           round(value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 4) AS dvalue
    FROM events
    ORDER BY user_id, event_id
    """,
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead navigation across each user's event stream."""
    e = Tables(spark, sf_dir).events
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.select(
            "user_id",
            "event_id",
            "event_type",
            F.lag("event_type").over(w).alias("prev_type"),
            F.lead("event_type").over(w).alias("next_type"),
            r4(F.col("value") - F.lag("value").over(w)).alias("dvalue"),
        )
        .orderBy("user_id", "event_id")
    )


@query(
    "topk_global",
    oracle="""
    SELECT o_orderkey, round(o_totalprice, 2) AS price
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
)
def topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-25 — TakeOrderedAndProject, not a full sort."""
    o = Tables(spark, sf_dir).orders
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(25)
        .select("o_orderkey", r2(F.col("o_totalprice")).alias("price"))
    )


@query(
    "sessionize_events",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER w <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, event_id,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      FROM flagged)
    SELECT user_id, session_seq, count(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_seq
    ORDER BY user_id, session_seq
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag + cumulative sum,
    one shuffle on user_id."""
    e = Tables(spark, sf_dir).events
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond precision on both sides (events.ts has sub-second values;
    # a seconds cast would disagree with the oracle's INTERVAL comparison)
    gap = epoch_us("ts") - F.lag(epoch_us("ts")).over(w)
    flagged = e.withColumn(
        "new_session",
        F.when(gap <= 30 * 60 * 1_000_000, F.lit(0)).otherwise(F.lit(1)),
    )
    cum = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return (
        flagged.withColumn("session_seq", F.sum("new_session").over(cum))
        .groupBy("user_id", "session_seq")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
