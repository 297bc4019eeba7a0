"""Oracle checks for the distribution-statistics and survival/tail
operators in queries/staged_r10.py — the same Spark-vs-DuckDB comparison
the driver gate runs, plus independent invariants beyond the oracle.
"""

from __future__ import annotations

import os

import pytest

from tests.conftest import SF_SMALL, assert_matches_oracle, module_queries

REGISTERED = module_queries("staged_r10")


@pytest.mark.parametrize("name", sorted(REGISTERED))
def test_staged_query_matches_oracle(spark, con, name):
    fn, oracle = REGISTERED[name]
    assert_matches_oracle(spark, con, name, fn, oracle)


def test_kaplan_meier_invariants(spark):
    """Beyond the oracle: survival is non-increasing, starts below 1,
    and the at-risk count is non-increasing in event time."""
    fn, _ = REGISTERED["kaplan_meier_time_to_purchase"]
    rows = fn(spark, SF_SMALL).collect()
    assert rows, "events corpus must produce at least one purchase"
    surv = [r["survival"] for r in rows]
    risk = [r["n_risk"] for r in rows]
    assert all(a >= b for a, b in zip(surv, surv[1:]))
    assert all(a >= b for a, b in zip(risk, risk[1:]))
    assert all(0.0 <= s <= 1.0 for s in surv)


def test_histogram_quantiles_bracket_exact(spark):
    """The interpolated estimates must land within one bin width of the
    exact quantiles — the sketch's accuracy contract."""
    import duckdb as d

    fn, _ = REGISTERED["histogram_quantile_sketch"]
    got = {r["p"]: r["est"] for r in fn(spark, SF_SMALL).collect()}
    con2 = d.connect()
    path = os.path.join(SF_SMALL, "lineitem.parquet")
    exact = con2.execute(
        f"""SELECT quantile_cont(l_extendedprice, [0.5, 0.9, 0.99]) q,
                   (max(l_extendedprice) - min(l_extendedprice)) / 128.0 w
            FROM '{path}'"""
    ).fetchone()
    (q50, q90, q99), w = exact
    for p, q in [(0.5, q50), (0.9, q90), (0.99, q99)]:
        assert abs(got[p] - q) <= w, (p, got[p], q, w)


def test_lorenz_deciles_are_monotone_and_sum_to_one(spark):
    fn, _ = REGISTERED["lorenz_curve_deciles"]
    rows = fn(spark, SF_SMALL).collect()
    assert len(rows) == 10
    shares = [r["revenue_share"] for r in rows]
    cums = [r["cum_share"] for r in rows]
    # deciles are revenue-ascending, so shares must be non-decreasing
    assert all(a <= b + 1e-9 for a, b in zip(shares, shares[1:]))
    assert all(a <= b for a, b in zip(cums, cums[1:]))
    assert abs(cums[-1] - 1.0) < 1e-4
    # Lorenz curve lies under the diagonal
    assert all(c <= (i + 1) / 10 + 1e-9 for i, c in enumerate(cums))


def test_clustering_coeff_agrees_with_global_triangles(spark):
    """Σ per-node triangles = 3 × the registered global triangle count."""
    from ror_etl_spark import registry

    registry.load_all()
    fn, _ = REGISTERED["clustering_coefficient_nations"]
    per_node = fn(spark, SF_SMALL).agg({"triangles": "sum"}).first()[0]
    glob = (
        registry.QUERIES["triangle_count_nations"](spark, SF_SMALL).first()[0]
    )
    assert per_node == 3 * glob


def test_lorenz_ntile_closed_form_matches_ntile_for_uneven_n(spark, tmp_path):
    """Every driver SF's customer count is divisible by 10, so the
    oracle comparison never exercises ntile's uneven-bucket rule; this
    pins the engine's piecewise closed form against DuckDB's real ntile
    at n = 1007 customers (7 buckets get the extra row). The naive
    floor(rank·10/n) form FAILS this test — it spreads the larger
    buckets evenly instead of front-loading them."""
    import duckdb as d
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = 1007
    # one order per customer, strictly increasing totalprice
    tbl = pa.table(
        {
            "o_orderkey": pa.array(range(n), type=pa.int64()),
            "o_custkey": pa.array(range(n), type=pa.int64()),
            "o_orderstatus": pa.array(["F"] * n),
            "o_totalprice": pa.array([100.0 + 3.0 * i for i in range(n)]),
            "o_orderdate": pa.array([1_700_000_000_000_000] * n,
                                    type=pa.timestamp("us")),
            "o_orderpriority": pa.array(["1-URGENT"] * n),
        }
    )
    pq.write_table(tbl, str(tmp_path / "orders.parquet"))
    fn, oracle = REGISTERED["lorenz_curve_deciles"]
    got = {r["decile"]: r["n_customers"] for r in fn(spark, str(tmp_path)).collect()}
    con2 = d.connect()
    con2.execute(
        f"CREATE VIEW orders AS SELECT * FROM '{tmp_path / 'orders.parquet'}'"
    )
    want = {
        r[0]: r[1]
        for r in con2.execute(oracle).fetchall()
    }
    assert got == want
    # ntile front-loads: first 7 deciles have 101, the rest 100
    assert [got[i] for i in range(1, 11)] == [101] * 7 + [100] * 3
