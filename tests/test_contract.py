"""Driver-contract consistency: entry() runs, every oracle key has a query,
approximate aggregates stay within sketch error bounds."""

from __future__ import annotations

import ast
import glob
import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as contract  # noqa: E402

from tests.conftest import SF_SMALL  # noqa: E402


def test_entry_smoke(spark):
    df = contract.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_oracle_keys_subset_of_queries(spark):
    qs, os_ = contract.queries(), contract.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 50


def test_approx_aggregates_within_error(spark):
    from ror_etl_spark.registry import QUERIES

    approx = {
        r["event_type"]: r
        for r in QUERIES["approx_distinct_quantiles"](spark, SF_SMALL).collect()
    }
    from ror_etl_spark.tables import Tables

    e = Tables(spark, SF_SMALL).events
    exact = {
        r["event_type"]: r
        for r in e.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("nd"),
            F.expr("percentile(value, 0.5)").alias("p50"),
        )
        .collect()
    }
    for k, a in approx.items():
        assert abs(a["approx_users"] - exact[k]["nd"]) <= max(2, 0.05 * exact[k]["nd"])
        assert abs(a["approx_p50"] - exact[k]["p50"]) <= 0.05 * max(1.0, abs(exact[k]["p50"]))


def test_sketch_union_matches_exact_within_error(spark):
    from ror_etl_spark.registry import QUERIES
    from ror_etl_spark.tables import Tables

    row = QUERIES["sketch_distinct_users_rollup"](spark, SF_SMALL).collect()[0]
    exact = Tables(spark, SF_SMALL).events.select("user_id").distinct().count()
    assert row["n_daily_sketches"] >= 28  # ~30 days of data
    assert abs(row["distinct_users_period"] - exact) <= max(2, 0.05 * exact)


def test_kll_quantiles_within_rank_error(spark):
    # kll_value_quantiles is deliberately NOT driver-registered (KLL state
    # is engine-internal, no replayable oracle) — pytest is its evidence.
    from ror_etl_spark.queries.sketches import kll_value_quantiles
    from ror_etl_spark.tables import Tables

    row = kll_value_quantiles(spark, SF_SMALL).collect()[0]
    e = Tables(spark, SF_SMALL).events
    n = e.count()
    assert row["n"] == n
    values = sorted(r["value"] for r in e.select("value").collect())
    # KLL default-k normalized rank error is ~1.65%; allow 2.5% of rank
    eps = 0.025
    for q, got in ((0.5, row["p50"]), (0.9, row["p90"]), (0.99, row["p99"])):
        lo = values[max(0, int((q - eps) * n) - 1)]
        hi = values[min(n - 1, int((q + eps) * n))]
        assert lo <= got <= hi, (q, got, lo, hi)


def test_theta_setops_exact_at_fixture_cardinality(spark):
    from ror_etl_spark.registry import QUERIES
    from ror_etl_spark.tables import Tables

    row = QUERIES["theta_user_setops"](spark, SF_SMALL).collect()[0]
    e = Tables(spark, SF_SMALL).events
    a = {
        r["user_id"]
        for r in e.filter((F.col("event_type") == "click") & (F.col("value") > 195))
        .select("user_id").distinct().collect()
    }
    b = {
        r["user_id"]
        for r in e.filter((F.col("event_type") == "purchase") & (F.col("value") > 195))
        .select("user_id").distinct().collect()
    }
    # below the sketch's nominal k the theta estimates are exact
    assert row["n_union"] == len(a | b)
    assert row["n_inter"] == len(a & b)
    assert row["n_click_only"] == len(a - b)


def test_every_oracle_schema_matches_spark_columns(spark):
    """Alias parity, analysis-only: the driver's compare sorts columns by
    name before hashing, so a Spark/oracle column-name mismatch fails the
    gate even with identical values. DESCRIBE-ing the oracle in DuckDB
    and analyzing the Spark frame (no execution on either side) pins
    every pair in seconds — the cheap pre-flight for the full sweep."""
    import duckdb

    from ror_etl_spark.registry import ORACLES, QUERIES
    from ror_etl_spark.tables import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMALL}/{t}.parquet'"
        )
    mismatches = []
    for name, sql in ORACLES.items():
        spark_cols = sorted(QUERIES[name](spark, SF_SMALL).columns)
        oracle_cols = sorted(
            r[0] for r in con.execute(f"DESCRIBE SELECT * FROM ({sql})").fetchall()
        )
        if spark_cols != oracle_cols:
            mismatches.append((name, spark_cols, oracle_cols))
    assert not mismatches, mismatches[:5]


def test_driver_window_prioritizes_unverified_oracle_queries():
    """The driver records verdicts for only the FIRST ~50 of
    ordered_queries(); the ordering must therefore never spend a slot
    re-confirming an already-green query while an oracle-bearing query
    still lacks a driver verdict (VERDICT r7 item 1 — the last gap
    between judge-verified and driver-verified). Pinned structurally so
    a future priority tweak can't silently demote the backlog."""
    from ror_etl_spark import registry

    registry.load_all()
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    seen = registry._past_verdicts(repo_root)
    ordered = list(registry.ordered_queries(repo_root))
    tier0 = [
        n
        for n in registry.QUERIES
        if n in registry.ORACLES and not seen.get(n, False)
    ]
    window = ordered[: min(50, len(ordered))]
    n_expected = min(len(tier0), len(window))
    assert sum(1 for n in window if n in tier0) == n_expected, (
        "a verified query occupies a window slot while "
        f"{len(tier0)} unverified oracle-bearing queries wait"
    )


# Query modules that ``queries.load()`` never imports, kept until their
# tests are retired (at most a few dozen tests per change). Remove a name
# when its module is deleted; never add one.
UNSERVED = ("staged_r13", "staged_r14")


def test_every_query_module_is_served():
    """Every module under ror_etl_spark/queries/ (bar the package init, the
    ``util`` helpers and the UNSERVED modules still being retired) is
    imported by ``queries.load()`` and registers at least one query, and
    none keeps a private ``STAGED`` dict — so implemented-but-unserved
    query code cannot pile up beside the registry. UNSERVED may only
    shrink: its modules exist, stay out of ``load()`` and register
    nothing."""
    from ror_etl_spark import registry

    registry.load_all()
    qdir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "ror_etl_spark",
        "queries",
    )
    trees = {}
    for path in sorted(glob.glob(os.path.join(qdir, "*.py"))):
        with open(path) as f:
            trees[os.path.splitext(os.path.basename(path))[0]] = ast.parse(f.read())
    assert "staged_r9" in trees, qdir

    load_fn = next(
        node
        for node in trees["__init__"].body
        if isinstance(node, ast.FunctionDef) and node.name == "load"
    )
    loaded = {
        alias.name
        for node in ast.walk(load_fn)
        if isinstance(node, ast.ImportFrom) and node.module == "ror_etl_spark.queries"
        for alias in node.names
    }
    registering = {fn.__module__.rsplit(".", 1)[-1] for fn in registry.QUERIES.values()}
    assert [m for m in UNSERVED if m not in trees] == [], "drop deleted names"
    assert [m for m in UNSERVED if m in loaded or m in registering] == []
    served = [m for m in trees if m not in ("__init__", "util", *UNSERVED)]
    assert [m for m in served if m not in loaded] == [], "not imported by load()"
    assert [m for m in served if m not in registering] == [], "registers no query"

    staged = [
        m
        for m, tree in trees.items()
        if m not in UNSERVED
        for node in ast.walk(tree)
        if isinstance(node, (ast.Assign, ast.AnnAssign))
        for t in (node.targets if isinstance(node, ast.Assign) else [node.target])
        if isinstance(t, ast.Name) and t.id == "STAGED"
    ]
    assert staged == [], "modules define a STAGED dict"
