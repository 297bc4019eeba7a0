"""Hypertable-style continuous aggregates: materialize a fine-grained
time-bucket rollup once, then serve coarser windows by re-aggregating the
rollup instead of the raw events.

This is the TimescaleDB continuous-aggregate / OLAP summary-table pattern
expressed in Spark: the hourly rollup is tiny relative to raw events
(one row per bucket × dimension), so daily/weekly/monthly queries scan
orders of magnitude less data. Re-aggregation is exact for decomposable
aggregates (count, sum, min, max — and avg derived as sum/count at the
final step); non-decomposable aggregates (exact percentiles) must query
raw data or store sketches.

At 100 TB the hourly rollup materializes incrementally (append per
closed hour) and is partitioned by bucket date for pruning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FINE_COLS = ("bucket", "n", "total", "mn", "mx")


def hourly_rollup(events: DataFrame, dims: list[str] | None = None) -> DataFrame:
    """Fine-grained (hourly) rollup of events.value: one row per bucket
    (× optional dimensions) carrying the decomposable state."""
    dims = dims or []
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), *dims)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("total"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )
        .select(F.col("w.start").alias("bucket"), *dims, "n", "total", "mn", "mx")
    )


def reaggregate(
    rollup: DataFrame, granularity: str, dims: list[str] | None = None
) -> DataFrame:
    """Serve a coarser window (e.g. '1 day') from the fine rollup:
    merge decomposable states, derive avg at the end."""
    dims = dims or []
    return (
        rollup.groupBy(F.window("bucket", granularity).alias("w"), *dims)
        .agg(
            F.sum("n").alias("n"),
            F.sum("total").alias("total"),
            F.min("mn").alias("mn"),
            F.max("mx").alias("mx"),
        )
        .select(
            F.col("w.start").alias("bucket"),
            *dims,
            "n",
            "total",
            "mn",
            "mx",
            (F.col("total") / F.col("n")).alias("avg"),
        )
    )
