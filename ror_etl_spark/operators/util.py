"""Shared operator utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame


def _splitmix64(state: int) -> tuple[int, int]:
    """One SplitMix64 step, (next state, 64-bit output): the seeded
    generator behind the minhash lane params and the LSH hyperplanes."""
    state = (state + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    z = state
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return state, z ^ (z >> 31)


def spread(df: DataFrame, target: int | None = None) -> DataFrame:
    """Repartition small inputs up to the session's default parallelism.

    Small-file inputs (one parquet file → one partition) serialize
    compute-heavy per-row operators (signatures, hashing, vector math)
    onto a single core; one round-robin shuffle of the narrow input is
    far cheaper than running 32× longer on one task.

    Gated on ``spark.ror.spread.enabled`` (default true; set false on a
    real cluster where inputs already have thousands of partitions) —
    a conf check instead of ``df.rdd.getNumPartitions()``, which forces a
    plan→RDD conversion per call and pins an RDD scan into every query
    plan. AQE coalesces any excess partitions after the fact, so an
    unconditional repartition of an already-wide input only costs one
    narrow shuffle at small scale and is disabled where it would matter."""
    spark = df.sparkSession
    if spark.conf.get("spark.ror.spread.enabled", "true") != "true":
        return df
    target = target or spark.sparkContext.defaultParallelism
    return df.repartition(target)


def global_rank(
    df: DataFrame,
    *sort_cols,
    out: str = "pos",
    zero_based: bool = True,
    n_parts: int = 8,
) -> DataFrame:
    """Distributed dense global row-number over a total order.

    ``Window.orderBy(...)`` (no partitionBy) is the correct SEMANTICS but
    collapses the whole input into one task — the unpartitioned-window
    anti-pattern. This helper computes the identical rank distributed:

      1. ``repartitionByRange`` on the sort columns — range partition i
         holds keys strictly below partition i+1 (Spark assigns range
         boundaries in ascending partition-id order);
      2. per-partition ``row_number`` (window PARTITIONED by pid — local
         sort, no single-task stage);
      3. per-partition counts → cumulative offsets (a pid-sized frame,
         ≤ n_parts rows, closed with one tiny window);
      4. broadcast the offsets back: rank = offset + local rank.

    The sort columns must be a TOTAL order (include a unique tiebreak),
    otherwise ties straddling a range boundary would be ranked
    arbitrarily. Result is bit-identical to the single-task window for
    any partition count, so correctness does not depend on the range
    sampler's boundary choices. One range shuffle + one pid-local window
    + a driver-scale offset frame — the plan a 100 TB global rank
    needs."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    ranked = (
        df.repartitionByRange(n_parts, *sort_cols)
        .withColumn("__pid", F.spark_partition_id())
        .withColumn(
            "__lrn", F.row_number().over(W.partitionBy("__pid").orderBy(*sort_cols))
        )
    )
    # Both consumers (the offset frame and the join-back) must see the
    # SAME range boundaries; the lazy checkpoint pins one materialization
    # instead of trusting exchange reuse across the two branches.
    ranked = ranked.localCheckpoint(eager=False)
    offsets = (
        ranked.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .withColumn(
            "__off",
            F.coalesce(
                F.sum("__cnt").over(
                    W.orderBy("__pid").rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("__pid", "__off")
    )
    base = 0 if zero_based else 1
    return (
        ranked.join(F.broadcast(offsets), "__pid")
        .withColumn(out, F.col("__off") + F.col("__lrn") - F.lit(1 - base))
        .drop("__pid", "__lrn", "__off")
    )


def global_cummax(
    df: DataFrame,
    order_cols: list[str],
    val: str,
    out: str = "prior_max",
    n_parts: int = 8,
) -> DataFrame:
    """Distributed EXCLUSIVE running max over a global sort order: for
    each row, max(``val``) over all rows strictly preceding it in
    ``order_cols`` order (null for the global first row).

    Same decomposition as ``global_rank`` (whose docstring explains why
    an unpartitioned window is the anti-pattern this replaces): range
    partition on the order, pid-local exclusive cummax window, then a
    pid-sized frame of per-partition maxima whose exclusive running max
    broadcasts back as each partition's carry-in. greatest() merges the
    local and carried values null-skippingly.

    ``order_cols`` must be duplicate-free across rows (a total order):
    rows tying on the full sort key could land in different range
    partitions and see each other's values asymmetrically. Callers
    aggregate to distinct keys first (see skyline_pareto_partsupp)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    rp = (
        df.repartitionByRange(n_parts, *order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    local = F.max(val).over(
        W.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    carry = (
        rp.groupBy("__pid")
        .agg(F.max(val).alias("__pmax"))
        .withColumn(
            "__carry",
            F.max("__pmax").over(
                W.orderBy("__pid").rowsBetween(W.unboundedPreceding, -1)
            ),
        )
        .select("__pid", "__carry")
    )
    return (
        rp.withColumn("__local", local)
        .join(F.broadcast(carry), "__pid")
        .withColumn(out, F.greatest("__local", "__carry"))
        .drop("__pid", "__local", "__carry")
    )


def global_cumsum(
    df: DataFrame,
    order_cols: list[str],
    val: str | list[str],
    out: str | list[str] = "prior_sum",
    n_parts: int = 8,
) -> DataFrame:
    """Distributed EXCLUSIVE running sum over a global sort order (0 for
    the global first row) — the additive sibling of ``global_cummax``,
    same three-step decomposition (range partition, pid-local exclusive
    window, broadcast per-partition totals as carry-ins); see that
    docstring for why the single-task global window is the anti-pattern.
    ``order_cols`` must be duplicate-free across rows.

    ``val``/``out`` accept lists to compute SEVERAL running sums over
    the same order in ONE range shuffle + checkpoint + carry join — a
    two-sample ECDF (cumulating both classes' counts) would otherwise
    pay the whole decomposition twice."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    vals = [val] if isinstance(val, str) else list(val)
    outs = [out] if isinstance(out, str) else list(out)
    assert len(vals) == len(outs), "val/out lists must pair up"

    rp = (
        df.repartitionByRange(n_parts, *order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    wloc = (
        W.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    wcarry = W.orderBy("__pid").rowsBetween(W.unboundedPreceding, -1)
    carry = (
        rp.groupBy("__pid")
        .agg(*[F.sum(v).alias(f"__ptot_{i}") for i, v in enumerate(vals)])
        .select(
            "__pid",
            *[
                F.sum(f"__ptot_{i}").over(wcarry).alias(f"__carry_{i}")
                for i in range(len(vals))
            ],
        )
    )
    res = rp
    for i, v in enumerate(vals):
        res = res.withColumn(f"__local_{i}", F.sum(v).over(wloc))
    res = res.join(F.broadcast(carry), "__pid")
    for i, o in enumerate(outs):
        res = res.withColumn(
            o,
            F.coalesce(f"__local_{i}", F.lit(0))
            + F.coalesce(f"__carry_{i}", F.lit(0)),
        )
    drop = (
        ["__pid"]
        + [f"__local_{i}" for i in range(len(vals))]
        + [f"__carry_{i}" for i in range(len(vals))]
    )
    return res.drop(*drop)
