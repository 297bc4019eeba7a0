"""Driver-contract consistency: entry() runs, every oracle key has a query,
approximate aggregates stay within sketch error bounds."""

from __future__ import annotations

import ast
import glob
import os
import re
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


# Package modules (relative to ``ror_etl_spark``) that no served entry point
# imports, kept until their tests are retired (at most a few dozen tests per
# change). Remove a name when its module is deleted; never add one.
UNSERVED = ("queries.staged_r13",)

# What serves the package: the query contract, the headline bench, the
# benchmark harness (which runs the paper's weekly pipeline and the rollup)
# and the weekly pipeline itself. ``queries.load()`` is reached through
# ``registry.load_all``.
ENTRY_FILES = ("__spark_entry__.py", "bench.py", "perfbench/*.py")
ENTRY_MODULES = ("ror_etl_spark.plans.ror_pipeline", "ror_etl_spark.sources.fetch")


def _package_imports(tree: ast.AST, modules: set[str]) -> set[str]:
    """Package modules an AST imports anywhere (function-level imports
    included), plus the package ``__init__``s that importing them runs."""
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            names.add(node.module)
            names.update(f"{node.module}.{a.name}" for a in node.names)
    out = set()
    for name in names:
        parts = name.split(".")
        out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return out & modules


def test_every_query_module_is_served():
    """Every module under ror_etl_spark/ (bar the UNSERVED ones still being
    retired) is reached by a static import walk from the served entry
    points; every query module but ``util`` registers at least one query;
    and no module keeps a private ``STAGED`` dict — so code that nothing
    serves cannot pile up beside the registry. UNSERVED may only shrink:
    its modules exist, are not reached and register nothing."""
    from ror_etl_spark import registry

    registry.load_all()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    trees = {}
    for path in glob.glob(os.path.join(root, "ror_etl_spark", "**", "*.py"), recursive=True):
        name = os.path.relpath(path, root)[: -len(".py")].replace(os.sep, ".")
        with open(path) as f:
            trees[name.removesuffix(".__init__")] = ast.parse(f.read())
    assert "ror_etl_spark.queries.staged_r9" in trees, root

    frontier = set(ENTRY_MODULES)
    for pattern in ENTRY_FILES:
        paths = glob.glob(os.path.join(root, pattern))
        assert paths, pattern
        for path in paths:
            with open(path) as f:
                frontier |= _package_imports(ast.parse(f.read()), set(trees))
    reached = set()
    while frontier:
        name = frontier.pop()
        reached.add(name)
        frontier |= _package_imports(trees[name], set(trees)) - reached

    unserved = {f"ror_etl_spark.{m}" for m in UNSERVED}
    registering = {fn.__module__ for fn in registry.QUERIES.values()}
    assert sorted(unserved - set(trees)) == [], "drop deleted names"
    assert sorted(unserved & (reached | registering)) == [], "drop served names"
    assert sorted(set(trees) - reached - unserved) == [], "no entry point reaches"
    query_modules = [
        m
        for m in trees
        if m.startswith("ror_etl_spark.queries.")
        and m != "ror_etl_spark.queries.util"
        and m not in unserved
    ]
    assert [m for m in query_modules if m not in registering] == [], "registers no query"

    staged = [
        m
        for m, tree in trees.items()
        if m not in unserved
        for node in ast.walk(tree)
        if isinstance(node, (ast.Assign, ast.AnnAssign))
        for t in (node.targets if isinstance(node, ast.Assign) else [node.target])
        if isinstance(t, ast.Name) and t.id == "STAGED"
    ]
    assert staged == [], "modules define a STAGED dict"


# A backticked ``path.py`` or ``path.py:name[/name...]`` in COVERAGE.md. The
# path may be given from the repo root, from ``ror_etl_spark/`` or as a bare
# file name; a name may be ``Class.member`` and may carry call arguments.
_COVERAGE_REF = re.compile(r"`([\w./-]+\.py)(?::([\w.]+(?:/[\w.]+)*))?[^`]*`")


def _defined_names(tree: ast.Module) -> set[str]:
    """Module-level defs, classes and assignments, and each def or
    assignment in a class body, both bare and as ``Class.member``."""
    names = set()

    def targets(node):
        if isinstance(node, ast.Assign):
            return [t.id for t in node.targets if isinstance(t, ast.Name)]
        if isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            return [node.target.id]
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            return [node.name]
        return []

    for node in tree.body:
        names.update(targets(node))
        if isinstance(node, ast.ClassDef):
            members = [m for sub in node.body for m in targets(sub)]
            names.update(members)
            names.update(f"{node.name}.{m}" for m in members)
    return names


def test_coverage_names_resolve():
    """Every file COVERAGE.md names exists, and every name it pins to a
    file is defined there — so the table cannot keep rows for deleted
    code."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = [
        os.path.relpath(p, root)
        for p in glob.glob(os.path.join(root, "**", "*.py"), recursive=True)
    ]
    with open(os.path.join(root, "COVERAGE.md")) as f:
        refs = sorted(set(_COVERAGE_REF.findall(f.read())))
    assert refs, "COVERAGE.md names no file"

    bad = []
    for ref, names in refs:
        matches = [p for p in files if p == ref or p.endswith("/" + ref)]
        if not matches:
            bad.append(f"{ref}:{names}" if names else ref)
            continue
        defined = set()
        for path in matches:
            with open(os.path.join(root, path)) as f:
                defined |= _defined_names(ast.parse(f.read()))
        bad += [f"{ref}:{n}" for n in names.split("/") if names and n not in defined]
    assert bad == [], f"COVERAGE.md names code that does not exist: {bad}"
