"""Oracle checks for the model/data evaluation and calibration operators
in queries/staged_r11.py — the same Spark-vs-DuckDB comparison the
driver gate runs, plus independent invariants beyond the oracle.
"""

from __future__ import annotations

import os

import pytest

from tests.conftest import SF_SMALL, assert_matches_oracle, module_queries

REGISTERED = module_queries("staged_r11")


@pytest.mark.parametrize("name", sorted(REGISTERED))
def test_staged_query_matches_oracle(spark, con, name):
    fn, oracle = REGISTERED[name]
    assert_matches_oracle(spark, con, name, fn, oracle)


def test_roc_auc_in_unit_interval(spark):
    fn, _ = REGISTERED["roc_auc_click_purchase"]
    row = fn(spark, SF_SMALL).collect()[0]
    assert 0.0 <= row["auc"] <= 1.0
    assert row["n_pos"] > 0 and row["n_neg"] > 0


def test_bh_fdr_rejections_are_a_prefix(spark):
    """Step-up property: the rejected set is exactly ranks 1..k."""
    fn, _ = REGISTERED["bh_fdr_cohort_value"]
    rows = sorted(fn(spark, SF_SMALL).collect(), key=lambda r: r["rank"])
    flags = [r["rejected"] for r in rows]
    k = sum(flags)
    assert flags == [1] * k + [0] * (len(flags) - k)
    ps = [r["p"] for r in rows]
    assert ps == sorted(ps)


def test_bfs_synthetic_reaches_whole_graph(spark):
    """The expander is connected: every node gets a finite distance and
    distances respect the depth cap."""
    fn, _ = REGISTERED["bfs_distances_synthetic_10k"]
    rows = fn(spark, SF_SMALL).collect()
    assert len(rows) == 10007
    assert max(r["dist"] for r in rows) <= 15
    assert min(r["dist"] for r in rows) == 0


def test_lift_gains_monotone_cumgain(spark):
    fn, _ = REGISTERED["lift_gains_deciles"]
    rows = sorted(fn(spark, SF_SMALL).collect(), key=lambda r: r["decile"])
    gains = [r["cum_gain"] for r in rows]
    assert all(a <= b + 1e-12 for a, b in zip(gains, gains[1:]))
    assert abs(gains[-1] - 1.0) < 1e-6


def test_ares_sample_prefers_heavy_weights(spark):
    """Inclusion probability rises with weight: the sampled mean weight
    must exceed the population mean (w ~ totalprice, k=100 of 1500)."""
    import duckdb as d

    fn, _ = REGISTERED["weighted_sample_ares"]
    rows = fn(spark, SF_SMALL).collect()
    assert len(rows) == 100
    sample_mean = sum(r["weight"] for r in rows) / len(rows)
    pop_mean = d.sql(
        f"SELECT avg(o_totalprice) FROM '{os.path.join(SF_SMALL, 'orders.parquet')}'"
    ).fetchone()[0]
    assert sample_mean > pop_mean


def test_link_prediction_scores_bounded(spark):
    """Jaccard in (0,1]; AA positive; every common-neighbor count is at
    most min(deg u, deg v) implied by jaccard <= 1."""
    fn, _ = REGISTERED["link_prediction_trade_graph"]
    rows = fn(spark, SF_SMALL).collect()
    assert 0 < len(rows) <= 10
    for r in rows:
        assert 0.0 < r["jaccard"] <= 1.0 + 1e-9
        assert r["adamic_adar"] > 0.0
        assert r["n_common"] >= 1
        assert r["is_edge"] in (0, 1)
    aas = [r["adamic_adar"] for r in rows]
    assert aas == sorted(aas, reverse=True)


def test_rich_club_phi_bounded_and_nodes_decreasing(spark):
    fn, _ = REGISTERED["rich_club_trade_graph"]
    rows = sorted(fn(spark, SF_SMALL).collect(), key=lambda r: r["k"])
    ns = [r["n_nodes"] for r in rows]
    assert ns == sorted(ns, reverse=True)
    for r in rows:
        assert 0.0 <= r["phi"] <= 1.0 + 1e-9
        assert r["n_edges"] <= r["n_nodes"] * (r["n_nodes"] - 1) // 2


def test_isotropy_against_numpy(spark):
    """Independent replay: exact mean pairwise cosine by brute force on
    the (small) sf0.001 corpus must match the O(n·dim) identity."""
    import numpy as np
    import pyarrow.parquet as pq

    fn, _ = REGISTERED["embedding_isotropy_stats"]
    row = fn(spark, SF_SMALL).collect()[0]
    emb = pq.read_table(os.path.join(SF_SMALL, "embeddings.parquet"))
    x = np.array(emb.column("embedding").to_pylist(), dtype=np.float64)
    u = x / np.linalg.norm(x, axis=1, keepdims=True)
    g = u @ u.T
    n = len(x)
    brute = (g.sum() - np.trace(g)) / (n * (n - 1))
    assert abs(row["avg_pairwise_cos"] - brute) < 1e-6
    assert abs(row["rms_norm"] - np.sqrt((x * x).sum(axis=1).mean())) < 1e-6


def test_no_staged_name_collides_with_registry():
    """Every query here registers through ``registry.query``, which raises
    on a duplicate name, so a collision fails ``load_all()`` itself. Pin
    that guard: re-registering one of these names raises and leaves the
    registered callable in place."""
    from ror_etl_spark import registry

    name = next(iter(REGISTERED))
    with pytest.raises(ValueError, match="duplicate query name"):
        registry.query(name)(lambda spark, sf_dir: None)
    assert registry.QUERIES[name] is REGISTERED[name][0]


def test_logrank_chi2_nonnegative(spark):
    fn, _ = REGISTERED["logrank_time_to_purchase"]
    row = fn(spark, SF_SMALL).collect()[0]
    assert row["chi2"] >= 0.0
    assert 0 <= row["o1"] <= row["n_events"]
    assert row["n_users"] >= row["n_events"]


def test_energy_distance_against_numpy_brute(spark):
    """Independent replay: the cumsum closed form must equal the
    brute-force all-pairs means on the small corpus."""
    import numpy as np
    import pyarrow.parquet as pq

    fn, _ = REGISTERED["energy_distance_value"]
    row = fn(spark, SF_SMALL).collect()[0]
    t = pq.read_table(os.path.join(SF_SMALL, "events.parquet")).to_pandas()
    t = t[t.event_type.isin(["click", "purchase"])]
    a = t[t.event_type == "click"].value.to_numpy()
    b = t[t.event_type == "purchase"].value.to_numpy()
    cross = np.abs(a[:, None] - b[None, :]).mean()
    wa = np.abs(a[:, None] - a[None, :]).mean()
    wb = np.abs(b[:, None] - b[None, :]).mean()
    assert abs(row["mean_cross_dist"] - cross) < 1e-3
    assert abs(row["energy_distance"] - (2 * cross - wa - wb)) < 1e-3
    assert row["energy_distance"] >= -1e-9


def test_mahalanobis_against_numpy(spark):
    """Top-1 customer and its d2 must match a numpy covariance replay."""
    import numpy as np
    import pyarrow.parquet as pq

    fn, _ = REGISTERED["mahalanobis_outlier_customers"]
    rows = fn(spark, SF_SMALL).collect()
    o = pq.read_table(os.path.join(SF_SMALL, "orders.parquet")).to_pandas()
    g = o.groupby("o_custkey").agg(
        spend=("o_totalprice", "sum"), n=("o_totalprice", "count")
    )
    x = np.column_stack([g.spend.round(2).to_numpy(), g.n.to_numpy(float)])
    mu = x.mean(axis=0)
    cov = np.cov(x.T, bias=True)
    inv = np.linalg.inv(cov)
    d2 = np.einsum("ij,jk,ik->i", x - mu, inv, x - mu)
    top = np.argsort(-np.round(d2 + 1e-9, 4))[0]
    assert rows[0]["c_custkey"] == g.index.to_numpy()[top]
    assert abs(rows[0]["mahalanobis_d2"] - d2[top]) < 1e-3
    assert all(r["mahalanobis_d2"] >= 0 for r in rows)


def test_dft_matches_numpy_goertzel(spark):
    import numpy as np
    import pyarrow.parquet as pq

    fn, _ = REGISTERED["dft_weekly_power"]
    row = fn(spark, SF_SMALL).collect()[0]
    li = pq.read_table(os.path.join(SF_SMALL, "lineitem.parquet")).to_pandas()
    d = (li.l_shipdate.dt.normalize() - np.datetime64("1992-01-01")).dt.days
    daily = li.assign(d=d).groupby("d").l_extendedprice.sum().round(2)
    y = daily.to_numpy() - daily.mean()
    ang = 2 * np.pi * (daily.index.to_numpy() % 7) / 7
    c, s = (y * np.cos(ang)).sum(), (y * np.sin(ang)).sum()
    amp = 2 * np.sqrt(c * c + s * s) / len(y)
    assert abs(row["weekly_amplitude"] - amp) < max(0.02, abs(amp) * 1e-4)
    assert 0.0 <= row["frac_variance_weekly"] <= 1.0 + 1e-9
