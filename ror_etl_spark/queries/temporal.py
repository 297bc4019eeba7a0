"""Time-window aggregation and the as-of join operator.

The ``F.window`` queries here are oracle-checked against DuckDB
``time_bucket``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ror_etl_spark.operators.asof import asof_join
from ror_etl_spark.registry import query
from ror_etl_spark.tables import Tables
from ror_etl_spark.queries.util import r4


@query(
    "tumbling_window_counts",
    oracle="""
    SELECT CAST(time_bucket(INTERVAL 1 HOUR, ts) AS TIMESTAMP_NS) AS wstart,
           event_type,
           count(*) AS n,
           round(sum(value), 4) AS total
    FROM events
    GROUP BY wstart, event_type
    ORDER BY wstart, event_type
    """,
)
def tumbling_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows (epoch-aligned in both engines)."""
    e = Tables(spark, sf_dir).events
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), r4(F.sum("value")).alias("total"))
        .select(F.col("w.start").alias("wstart"), "event_type", "n", "total")
    )


@query(
    "sliding_window_counts",
    oracle="""
    WITH slid AS (
      SELECT time_bucket(INTERVAL 30 MINUTE, ts) - k * INTERVAL 30 MINUTE AS wstart,
             value
      FROM events, (SELECT unnest([0, 1]) AS k)
    )
    SELECT CAST(wstart AS TIMESTAMP_NS) AS wstart,
           count(*) AS n, round(sum(value), 4) AS total_value
    FROM slid
    GROUP BY wstart
    ORDER BY wstart
    """,
)
def sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 min — each event lands in 2 windows.

    The oracle replays Spark's window-assignment rule (every 30-min-aligned
    start s with s <= ts < s+1h) by unioning the two candidate buckets.
    """
    e = Tables(spark, sf_dir).events
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), r4(F.sum("value")).alias("total_value"))
        .select(F.col("w.start").alias("wstart"), "n", "total_value")
        .orderBy("wstart")
    )


@query(
    "asof_join_events",
    oracle="""
    SELECT c.event_id, c.user_id, CAST(c.ts AS TIMESTAMP_NS) AS ts,
           p.event_id AS purchase_event_id, p.value AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    ORDER BY c.event_id
    """,
)
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every click, the user's most recent prior-or-equal
    purchase. Spark has no native ASOF JOIN — ror_etl_spark.operators.asof
    implements it as union + last(ignorenulls) window (one shuffle on
    user_id, no range explosion)."""
    e = Tables(spark, sf_dir).events
    clicks = e.filter(F.col("event_type") == "click")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_event_id"),
        F.col("value").alias("purchase_value"),
    )
    joined = asof_join(
        left=clicks,
        right=purchases,
        on="user_id",
        left_time="ts",
        right_time="p_ts",
        right_values=["purchase_event_id", "purchase_value"],
    )
    return joined.select(
        "event_id", "user_id", "ts", "purchase_event_id", "purchase_value"
    )


@query(
    "session_window_batch",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN ts - lag(ts) OVER w <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts, value,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS seq
      FROM flagged)
    SELECT user_id,
           CAST(min(ts) AS TIMESTAMP_NS)                      AS session_start,
           CAST(max(ts) + INTERVAL 30 MINUTE AS TIMESTAMP_NS) AS session_end,
           count(*)                       AS n_events,
           round(sum(value), 4)           AS total_value
    FROM sessions
    GROUP BY user_id, seq
    ORDER BY user_id, session_start
    """,
)
def session_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` (30-min gap) in BATCH mode, cross-checked
    against the independent lag+cumsum formulation in the oracle — two
    different sessionization algorithms must produce identical sessions.
    (Spark's session end = last event + gap; the oracle mirrors that.)"""
    e = Tables(spark, sf_dir).events
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), r4(F.sum("value")).alias("total_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
        .orderBy("user_id", "session_start")
    )


@query(
    "hypertable_daily_from_hourly",
    oracle="""
    SELECT CAST(time_bucket(INTERVAL 1 DAY, ts) AS TIMESTAMP_NS) AS bucket,
           event_type,
           count(*) AS n,
           round(sum(value), 4) AS total,
           round(min(value), 4) AS mn,
           round(max(value), 4) AS mx
    FROM events
    GROUP BY bucket, event_type
    ORDER BY bucket, event_type
    """,
)
def hypertable_daily_from_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate pattern: daily stats served by re-aggregating a
    materialized HOURLY rollup (operators/hypertable.py) — the oracle
    aggregates the raw events directly, proving rollup-of-rollup is exact
    for decomposable aggregates."""
    from ror_etl_spark.operators.hypertable import hourly_rollup, reaggregate

    e = Tables(spark, sf_dir).events
    hourly = hourly_rollup(e, dims=["event_type"])
    daily = reaggregate(hourly, "1 day", dims=["event_type"])
    return daily.select(
        "bucket",
        "event_type",
        "n",
        r4(F.col("total")).alias("total"),
        r4(F.col("mn")).alias("mn"),
        r4(F.col("mx")).alias("mx"),
    ).orderBy("bucket", "event_type")


_KMV_K = 2048
_KMV_SCALE = float(1 << 52)  # 52-bit md5 prefix → exact double in [0, 2^52)


def _kmv_hash(col):
    """Portable 52-bit uniform hash as a double in [0, 1): top 13 hex
    chars of md5 — bit-identical in Spark and DuckDB, and 52 bits fit a
    double mantissa exactly, so the division is lossless."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 13), 16, 10).cast("long")
        / F.lit(_KMV_SCALE)
    )


@query(
    "sketch_distinct_users_rollup",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT
                        / {_KMV_SCALE!r} AS h
      FROM events),
    bk AS (SELECT h FROM h ORDER BY h LIMIT {_KMV_K})
    SELECT CASE WHEN count(*) < {_KMV_K} THEN CAST(count(*) AS DOUBLE)
                ELSE round({_KMV_K - 1} / max(h), 4) END AS distinct_users_period,
           (SELECT count(DISTINCT date_trunc('day', ts)) FROM events)
             AS n_daily_sketches
    FROM bk
    """,
    priority=3,
)
def sketch_distinct_users_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketch rollup, KMV (k-minimum-values)
    edition: one bottom-k sketch of md5-hashed user ids per DAY, then the
    whole-period distinct-user answer is the UNION of the daily sketches
    (union = concat + re-take bottom-k — KMV's merge operator), estimate
    (k-1)/h_k. This is the sketch twin of the hypertable pattern:
    distinct counts don't re-aggregate exactly, sketches make them
    mergeable. KMV's estimator has the same ~1/sqrt(k) error as HLL at
    far larger state (k hashes vs k registers) — the price paid for a
    deterministic, engine-portable sketch the DuckDB oracle replays
    exactly (the HLL/theta twins keep the compact-state role:
    ``theta_rollup_distinct_users`` is the green production path).
    Below k distinct the sketch is lossless and the estimate exact.

    Shuffle profile: the (day, hash) pairs dedup with a map-side partial
    aggregate, then a per-day row_number window keeps only the bottom k
    BEFORE any collect — no single aggregation row ever holds a full
    day's distinct set, so per-day state is bounded at k regardless of
    daily cardinality."""
    from pyspark.sql import Window as W

    e = Tables(spark, sf_dir).events
    pairs = e.select(
        F.date_trunc("day", "ts").alias("day"),
        _kmv_hash(F.col("user_id")).alias("h"),
    ).distinct()
    capped = pairs.withColumn(
        "rn", F.row_number().over(W.partitionBy("day").orderBy("h"))
    ).filter(F.col("rn") <= _KMV_K)
    daily = capped.groupBy("day").agg(F.array_sort(F.collect_list("h")).alias("sk"))
    merged_bk = (
        daily.select(F.explode("sk").alias("h"))
        .distinct()
        .orderBy("h")
        .limit(_KMV_K)
    )
    est = merged_bk.agg(
        F.when(F.count(F.lit(1)) < _KMV_K, F.count(F.lit(1)).cast("double"))
        .otherwise(F.round(F.lit(float(_KMV_K - 1)) / F.max("h"), 4))
        .alias("distinct_users_period")
    )
    n_days = daily.agg(F.count(F.lit(1)).alias("n_daily_sketches"))
    return est.crossJoin(n_days)


@query(
    "asof_join_nearest",
    oracle="""
    SELECT c.event_id, c.user_id, CAST(c.ts AS TIMESTAMP_NS) AS ts,
           p.event_id AS nearest_purchase_id,
           p.value AS nearest_value,
           CAST(p.dt_us AS BIGINT) AS dt_us
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    LEFT JOIN LATERAL (
      SELECT p.event_id, p.value,
             epoch_us(p.ts) - epoch_us(c.ts) AS dt_us
      FROM events p
      WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
      ORDER BY abs(epoch_us(p.ts) - epoch_us(c.ts)) ASC,
               (epoch_us(p.ts) > epoch_us(c.ts)) ASC,
               CASE WHEN epoch_us(p.ts) <= epoch_us(c.ts)
                    THEN -p.event_id ELSE p.event_id END ASC
      LIMIT 1) p ON true
    ORDER BY c.event_id
    """,
    priority=3,
)
def asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-direction as-of join (pandas ``merge_asof
    direction='nearest'``): for every click, the user's closest purchase
    in time on EITHER side — ties prefer the backward (prior) purchase;
    equal-timestamp groups resolve deterministically (max event_id
    backward, min forward).

    Scale shape: Spark has no native ASOF, and a nearest join as a
    range-join explodes candidate pairs — this plan is the union +
    window formulation of ``operators/asof.py`` extended to BOTH
    directions in ONE pass: a single shuffle on user_id, one per-key
    sort, then two frames over the same ordering (``last ignorenulls``
    unbounded-preceding for the backward candidate, ``first
    ignorenulls`` current-to-following for the forward candidate) and a
    codegen argmin between the two. Purchases sort before clicks on
    timestamp ties, so an equal-time purchase is the backward candidate
    with distance 0 — the tie rule falls out of the sort order. All
    comparisons are integer microseconds; no float crosses the engine
    boundary."""
    from pyspark.sql import Window as W

    from ror_etl_spark.queries.util import epoch_us

    e = Tables(spark, sf_dir).events
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id",
        "event_id",
        "ts",
        epoch_us("ts").alias("t"),
        F.lit(1).alias("side"),
        F.lit(None).cast("long").alias("pe"),
        F.lit(None).cast("double").alias("pv"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast(clicks.schema["ts"].dataType).alias("ts"),
        epoch_us("ts").alias("t"),
        F.lit(0).alias("side"),
        F.col("event_id").alias("pe"),
        F.col("value").alias("pv"),
    )
    un = clicks.unionByName(purchases)
    order = [F.col("t").asc(), F.col("side").asc(), F.col("pe").asc()]
    wb = (
        W.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wf = (
        W.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    filled = un.select(
        "*",
        F.last("pe", ignorenulls=True).over(wb).alias("b_pe"),
        F.last("pv", ignorenulls=True).over(wb).alias("b_pv"),
        F.last(F.when(F.col("side") == 0, F.col("t")), ignorenulls=True)
        .over(wb)
        .alias("b_t"),
        F.first("pe", ignorenulls=True).over(wf).alias("f_pe"),
        F.first("pv", ignorenulls=True).over(wf).alias("f_pv"),
        F.first(F.when(F.col("side") == 0, F.col("t")), ignorenulls=True)
        .over(wf)
        .alias("f_t"),
    ).filter(F.col("side") == 1)
    back_wins = F.col("b_pe").isNotNull() & (
        F.col("f_pe").isNull()
        | ((F.col("t") - F.col("b_t")) <= (F.col("f_t") - F.col("t")))
    )
    pick = lambda b, f: F.when(back_wins, F.col(b)).otherwise(F.col(f))  # noqa: E731
    return (
        filled.select(
            "event_id",
            "user_id",
            "ts",
            pick("b_pe", "f_pe").alias("nearest_purchase_id"),
            pick("b_pv", "f_pv").alias("nearest_value"),
            (pick("b_t", "f_t") - F.col("t")).alias("dt_us"),
        )
        .orderBy("event_id")
    )


@query(
    "ohlc_hourly_purchases",
    oracle="""
    WITH x AS (
      SELECT date_trunc('hour', ts) AS h, ts, event_id, value,
             row_number() OVER (PARTITION BY date_trunc('hour', ts)
                                ORDER BY ts, event_id) AS rf,
             row_number() OVER (PARTITION BY date_trunc('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rl
      FROM events WHERE event_type = 'purchase')
    SELECT strftime(h, '%Y-%m-%d %H:00') AS hour,
           CAST(count(*) AS BIGINT) AS n,
           round(max(CASE WHEN rf = 1 THEN value END), 4) AS open,
           round(max(value), 4) AS high,
           round(min(value), 4) AS low,
           round(max(CASE WHEN rl = 1 THEN value END), 4) AS close,
           round(sum(value) + 1e-9, 4) AS volume
    FROM x GROUP BY h ORDER BY hour
    """,
    priority=5,
)
def ohlc_hourly_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick bars (the financial/telemetry downsampling
    primitive): per hourly bucket, the chronologically first (open) and
    last (close) values plus the high/low/volume aggregates.

    open/close are order statistics, not algebraic aggregates — the
    deterministic formulation is a per-bucket window with a total
    (ts, event_id) tiebreak (min_by/arg_min tie behavior is
    engine-arbitrary, so both engines pin the SAME total order). The
    window partitions on the bucket — at 100 TB each hour's frame is
    bucket-sized and the plan is one shuffle keyed on the bucket, the
    same key the final aggregate reuses (no second exchange: Catalyst
    sees the window and the groupBy share partitioning)."""
    from pyspark.sql import Window as W

    e = Tables(spark, sf_dir).events.where(F.col("event_type") == "purchase")
    x = e.select(
        F.date_trunc("hour", "ts").alias("h"), "ts", "event_id", "value"
    )
    wf = W.partitionBy("h").orderBy(F.asc("ts"), F.asc("event_id"))
    wl = W.partitionBy("h").orderBy(F.desc("ts"), F.desc("event_id"))
    x = x.withColumn("rf", F.row_number().over(wf)).withColumn(
        "rl", F.row_number().over(wl)
    )
    return (
        x.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.max(F.when(F.col("rf") == 1, F.col("value"))), 4).alias(
                "open"
            ),
            F.round(F.max("value"), 4).alias("high"),
            F.round(F.min("value"), 4).alias("low"),
            F.round(F.max(F.when(F.col("rl") == 1, F.col("value"))), 4).alias(
                "close"
            ),
            F.round(F.sum("value") + 1e-9, 4).alias("volume"),
        )
        .select(
            F.date_format("h", "yyyy-MM-dd HH:00").alias("hour"),
            "n",
            "open",
            "high",
            "low",
            "close",
            "volume",
        )
        .orderBy("hour")
    )


@query(
    "rolling_distinct_users_7d",
    oracle="""
    WITH du AS (
      SELECT DISTINCT date_trunc('day', ts) AS d, user_id FROM events),
    days AS (SELECT DISTINCT d FROM du)
    SELECT strftime(days.d, '%Y-%m-%d') AS day,
           CAST(count(DISTINCT du.user_id) AS BIGINT) AS users_7d
    FROM days JOIN du
      ON du.d <= days.d AND du.d >= days.d - INTERVAL 6 DAY
    GROUP BY days.d ORDER BY day
    """,
    priority=5,
)
def rolling_distinct_users_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users — the canonical HARD sliding
    aggregate: COUNT(DISTINCT) does not decompose over overlapping
    windows (you cannot subtract yesterday's leavers from a running
    count), so incremental tricks that work for sums are unsound here.

    The distributed formulation inverts the window: each (day, user)
    contribution replicates to the <= 7 window-ends it can serve
    (map-side explode of a bounded literal sequence — fan-out x7
    regardless of data size), then ONE distinct-aggregate keyed on
    (window_end, user) collapses duplicates. Shuffle volume is
    7 x |distinct (day, user)| — days-bounded, never event-bounded,
    because the per-day distinct runs first. The oracle states the
    orthogonal definition (a range band join against the day spine).
    At 100 TB this beats both the band join (events x 7 days of
    re-scan) and a per-day loop (7 full passes)."""
    e = Tables(spark, sf_dir).events
    du = e.select(
        F.date_trunc("day", "ts").alias("d"), "user_id"
    ).distinct()
    days = du.select("d").distinct()
    contrib = du.select(
        F.explode(
            F.expr(
                "transform(sequence(0, 6), k -> date_add(CAST(d AS DATE), k))"
            )
        ).alias("wd"),
        "user_id",
    )
    out = (
        contrib.join(
            F.broadcast(days.select(F.col("d").cast("date").alias("wd"))), "wd"
        )
        .groupBy("wd")
        .agg(F.countDistinct("user_id").alias("users_7d"))
    )
    return out.select(
        F.date_format("wd", "yyyy-MM-dd").alias("day"), "users_7d"
    ).orderBy("day")
