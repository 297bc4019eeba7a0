"""Query registry backing the driver contract (__spark_entry__.py).

Every implemented operator registers a named query callable
``(spark, sf_dir) -> DataFrame`` and, when SQL-expressible, the equivalent
DuckDB oracle SQL. Registration happens at import time of the
``ror_etl_spark.queries`` subpackage.

Correctness discipline (driver hashes values order-insensitively after
sorting columns by name):
- alias every computed column identically in Spark code and oracle SQL;
- round floating-point aggregates to a fixed number of decimals on BOTH
  sides so fp summation order can't flip the hash;
- make every ORDER BY / top-k deterministic with an explicit tiebreak key.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
PRIORITY: dict[str, int] = {}


def query(
    name: str, oracle: str | None = None, priority: int = 0
) -> Callable[[QueryFn], QueryFn]:
    """Register a driver-contract query; ``oracle`` is DuckDB SQL or None
    for non-SQL-expressible operators (driver then does a rows-only check).
    ``priority`` > 0 moves the query earlier within its evidence tier (see
    ``ordered_queries``) — use for newly added queries that should reach
    the driver's capped correctness run this round.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = " ".join(oracle.split())
        if priority:
            PRIORITY[name] = priority
        return fn

    return deco


# Queries whose results depend on the events.ts timestamp encoding — the
# one column the driver's testdata regenerator has already drifted (r4:
# TIMESTAMP(NANOS) -> timestamp[us]). Kept at elevated priority so every
# round's capped driver window re-confirms them against freshly generated
# data instead of spending all 50 slots on drift-immune re-confirmations.
_DRIFT_SENSITIVE = [
    "asof_join_events",
    "sessionize_events",
    "tumbling_window_counts",
    "sliding_window_counts",
    "session_window_batch",
    "gapfill_hourly_purchases",
    "interpolate_hourly_gaps",
    "outlier_iqr_events",
    "hypertable_daily_from_hourly",
    "funnel_signup_click_purchase",
    "cohort_retention",
    "events_band_self_join",
    "sketch_distinct_users_rollup",
    # r7 session-3 additions that read events.ts
    "asof_join_nearest",
    "sessionize_timeout_sweep",
    "funnel_conversion_latency",
    "outlier_mad_events",
]


# Queries whose IMPLEMENTATION changed since the last driver verdict.
# They may already be driver-green, but the changed path must be
# re-proven, so they lead the re-confirmation tier of the driver's
# 50-slot window. Add a name here when its query's code changes; drop it
# after a later driver verdict has re-proven it.
CHANGED = [
    "ultimate_parent_rollup_wide",
    "dedup_minhash_lsh",
    "dedup_minhash_lsh_tuned",
    "dedup_near_clusters",
    "dedup_funnel_keep",
    "dedup_funnel_keep_tuned",
    "dedup_threshold_sweep",
    "train_test_split_leakage_safe",
    "golden_record_survivorship",
    "embedding_near_dup_pairs",
    "embedding_near_dup_pairs_tuned",
    "embedding_near_dup_pairs_prod",
]


def load_all() -> None:
    """Import every query module (idempotent)."""
    from ror_etl_spark import queries  # noqa: F401

    queries.load()
    for name in _DRIFT_SENSITIVE:
        if name in QUERIES:
            PRIORITY[name] = max(PRIORITY.get(name, 0), 4)
    for name in CHANGED:
        if name in QUERIES:
            PRIORITY[name] = max(PRIORITY.get(name, 0), 10)


def _past_verdicts(repo_root: str) -> dict[str, bool]:
    """name -> True if some past CORRECTNESS_r*.json has it fully green
    (hash_match), False if it appeared but never green. Absent = never
    checked by the driver."""
    import glob
    import json
    import os

    seen: dict[str, bool] = {}
    for path in sorted(glob.glob(os.path.join(repo_root, "CORRECTNESS_r*.json"))):
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in data.items():
            green = bool(isinstance(row, dict) and row.get("hash_match"))
            seen[name] = seen.get(name, False) or green
    return seen


def ordered_queries(repo_root: str) -> dict[str, QueryFn]:
    """Registry in driver-priority order.

    The external driver checks queries in dict order with a cap (r1
    recorded exactly the first 50 of 133), so ordering decides which
    queries accumulate hard correctness evidence. Priority:

    0. oracle available but no green driver hash yet — never checked, or
       checked rows-only/failed before an oracle or fix landed
    1. never checked, no oracle  (weaker rows-only signal)
    2. already green in a past round  (re-confirmation only)

    Within each tier, PRIORITY (desc) then registration order. Self-
    maintaining: each round's artifact pushes newly-green names to the
    back.
    """
    seen = _past_verdicts(repo_root)
    def tier(name: str) -> int:
        has_oracle = name in ORACLES
        if has_oracle:
            return 0 if not seen.get(name, False) else 2
        return 1 if name not in seen else 2

    names = list(QUERIES)
    ranked = sorted(
        range(len(names)),
        key=lambda i: (tier(names[i]), -PRIORITY.get(names[i], 0), i),
    )
    return {names[i]: QUERIES[names[i]] for i in ranked}
