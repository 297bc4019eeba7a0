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


def test_jarque_bera_components_consistent(spark):
    """JB must recombine exactly from its reported skew/kurtosis."""
    fn, _ = STAGED["jarque_bera_daily_revenue"]
    r = fn(spark, SF_SMALL).collect()[0]
    jb = r["n_days"] / 6.0 * (
        r["skewness"] ** 2 + r["excess_kurtosis"] ** 2 / 4.0
    )
    assert abs(jb - r["jb_stat"]) < 1e-2
    assert r["jb_stat"] >= 0


def test_durbin_watson_range(spark):
    """DW lives in [0, 4] by construction."""
    fn, _ = STAGED["durbin_watson_daily_revenue"]
    r = fn(spark, SF_SMALL).collect()[0]
    assert 0.0 <= r["dw_stat"] <= 4.0


def test_breusch_pagan_lm_bound(spark):
    """LM = n·r² with |r| <= 1, so 0 <= LM <= n."""
    fn, _ = STAGED["breusch_pagan_daily_revenue"]
    r = fn(spark, SF_SMALL).collect()[0]
    assert -1.0 <= r["esq_t_corr"] <= 1.0
    assert 0.0 <= r["lm_stat"] <= r["n_days"]


def test_grubbs_against_numpy(spark):
    """Independent replay of G on the daily frame."""
    import numpy as np
    import duckdb as d

    fn, _ = STAGED["grubbs_outlier_daily_revenue"]
    r = fn(spark, SF_SMALL).collect()[0]
    y = np.array(
        d.sql(
            "SELECT sum(value) FROM "
            f"'{os.path.join(SF_SMALL, 'events.parquet')}'"
            " WHERE event_type = 'purchase'"
            " GROUP BY CAST(ts AS DATE) ORDER BY 1"
        ).fetchnumpy()["sum(\"value\")"]
    )
    g = np.max(np.abs(y - y.mean())) / y.std()
    assert abs(r["g_stat"] - g) < 1e-4


def test_max_drawdown_nonnegative(spark):
    fn, _ = STAGED["max_drawdown_daily_revenue"]
    r = fn(spark, SF_SMALL).collect()[0]
    assert r["max_drawdown"] >= 0.0
    assert 0 <= r["trough_t"]


def test_binseg_gain_nonnegative_and_means_bracket(spark):
    """Splitting can only reduce SSE; segment sizes must partition n."""
    fn, _ = STAGED["changepoint_binseg_daily_revenue"]
    r = fn(spark, SF_SMALL).collect()[0]
    assert r["sse_gain"] >= 0.0
    assert 1 <= r["n_left"] < r["n_days"]


def test_hurst_in_sane_range(spark):
    fn, _ = STAGED["hurst_rs_daily_revenue"]
    rows = fn(spark, SF_SMALL).collect()
    hs = {r["hurst"] for r in rows}
    assert len(hs) == 1
    assert 0.0 < rows[0]["hurst"] < 1.5
    for r in rows:
        assert r["rs_avg"] > 0


def test_permutation_entropy_bounds(spark):
    fn, _ = STAGED["permutation_entropy_daily_revenue"]
    r = fn(spark, SF_SMALL).collect()[0]
    assert 0.0 <= r["normalized"] <= 1.0 + 1e-9
    assert 1 <= r["n_patterns"] <= 6


def test_haar_energy_shares_sum_to_one(spark):
    fn, _ = STAGED["haar_energy_daily_revenue"]
    rows = fn(spark, SF_SMALL).collect()
    assert len(rows) == 3
    assert abs(sum(r["energy_share"] for r in rows) - 1.0) < 1e-4
    ns = [r["n_coeffs"] for r in rows]
    assert ns[0] >= ns[1] >= ns[2]


def test_theil_u_is_rmse_ratio(spark):
    fn, _ = STAGED["theil_u_forecast_daily_revenue"]
    r = fn(spark, SF_SMALL).collect()[0]
    assert r["rmse_naive"] > 0 and r["rmse_snaive"] > 0
    assert abs(r["theil_u"] - r["rmse_snaive"] / r["rmse_naive"]) < 1e-3


def test_welch_and_bartlett_nonnegative(spark):
    r = STAGED["welch_anova_value_by_priority"][0](spark, SF_SMALL).collect()[0]
    assert r["welch_f"] >= 0 and r["df2"] > 0
    b = STAGED["bartlett_value_by_priority"][0](spark, SF_SMALL).collect()[0]
    assert b["bartlett_stat"] >= 0 and b["pooled_var"] > 0


def test_tukey_pairs_complete(spark):
    rows = STAGED["tukey_q_pairwise_priority"][0](spark, SF_SMALL).collect()
    assert len(rows) == 10  # C(5,2)
    for r in rows:
        assert r["g_lo"] < r["g_hi"]
        assert r["q_stat"] >= 0
        assert abs(r["mean_diff"]) > 0 or r["q_stat"] == 0


def test_cf_distance_bounds(spark):
    """Each CF component lives in [-1, 1], so the 4-dim squared
    difference is bounded by 16."""
    r = STAGED["cf_distance_click_purchase"][0](spark, SF_SMALL).collect()[0]
    assert 0.0 <= r["cf_dist_sq"] <= 16.0
    assert r["cf_stat"] >= 0
    assert r["n_click"] > 0 and r["n_purchase"] > 0


def test_t_closeness_ladder_monotone(spark):
    """Raising t can only shrink the violating set; EMD <= 1."""
    rows = sorted(
        STAGED["t_closeness_order_priority"][0](spark, SF_SMALL).collect(),
        key=lambda r: r["t"],
    )
    viol = [r["n_violating"] for r in rows]
    assert viol == sorted(viol, reverse=True)
    for r in rows:
        assert 0.0 <= r["max_emd"] <= 1.0 + 1e-9


def test_dp_exponential_ranks_are_permutation(spark):
    rows = STAGED["dp_exponential_topk_nations"][0](spark, SF_SMALL).collect()
    assert [r["noisy_rank"] for r in rows] == [1, 2, 3, 4, 5]
    assert len({r["nationkey"] for r in rows}) == 5
    for r in rows:
        assert r["true_rank"] >= 1


def test_pca_explained_variance_bounds(spark):
    """The top PC explains a positive share of variance, at most all of
    it; loadings are max-abs-normalized so |v| <= 1."""
    rows = STAGED["embedding_pca_power_iteration"][0](spark, SF_SMALL).collect()
    assert len(rows) == 8
    evr = rows[0]["explained_var_ratio"]
    assert 0.0 < evr <= 1.0 + 1e-6
    assert rows[0]["top_eigenvalue"] > 0
    for r in rows:
        assert abs(r["loading"]) <= 1.0 + 1e-6
    mags = [abs(r["loading"]) for r in rows]
    assert mags == sorted(mags, reverse=True)


def test_kmeans_elbow_inertia_nonincreasing(spark):
    """More centroids can only lower (or hold) the optimal inertia —
    with the deterministic id-ordered init this holds empirically on
    this corpus and pins the elbow's direction."""
    rows = sorted(
        STAGED["embedding_kmeans_elbow"][0](spark, SF_SMALL).collect(),
        key=lambda r: r["k"],
    )
    inert = [r["inertia"] for r in rows]
    assert inert == sorted(inert, reverse=True)
    assert all(i > 0 for i in inert)


def test_ppr_source_leads_and_scores_proper(spark):
    rows = STAGED["personalized_pagerank_trade"][0](spark, SF_SMALL).collect()
    assert rows, "PPR must return rows"
    assert rows[0]["is_source"] == 1, "teleport mass keeps the source on top"
    scores = [r["ppr"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(s >= 0 for s in scores)


def test_ktruss_supports_and_ordering(spark):
    rows = STAGED["ktruss_trade_graph"][0](spark, SF_SMALL).collect()
    for r in rows:
        assert r["a"] < r["b"]
        assert r["support"] >= 1


def test_cell_blocked_knn_recall_vs_brute(spark):
    """The blocked variant's hits are a subset of the candidate set; its
    recall against the registered brute k-NN is measured and must be
    substantial (the 3x3 ring covers most true neighbors on a 16-cell
    grid)."""
    blocked = STAGED["geo_knn_cell_blocked"][0](spark, SF_SMALL).collect()
    brute = registry.QUERIES["geo_haversine_knn"](spark, SF_SMALL).collect()
    bset = {(r["qid"], r["user_id"]) for r in brute}
    hits = sum(1 for r in blocked if (r["qid"], r["user_id"]) in bset)
    recall = hits / len(bset)
    assert recall >= 0.5, f"recall {recall:.2f}"
    for r in blocked:
        assert r["km"] >= 0


def test_incremental_sessionize_totals(spark):
    """Total events must equal the raw event count — the stitch never
    loses or duplicates an event."""
    import duckdb as d

    r = STAGED["incremental_sessionize_merge"][0](spark, SF_SMALL).collect()[0]
    n_events = d.sql(
        f"SELECT count(*) FROM '{os.path.join(SF_SMALL, 'events.parquet')}'"
    ).fetchone()[0]
    assert r["total_events"] == n_events
    assert 0 <= r["n_boundary_sessions"] <= r["n_sessions"]
    assert r["max_depth"] >= 1


def test_session_depth_decay_is_real(spark):
    """The depth survival curve must actually decay (negative slope,
    positive half-life) — the vacuous-green guard this op replaced a
    flat-retention variant over."""
    r = STAGED["session_depth_halflife_fit"][0](spark, SF_SMALL).collect()[0]
    assert r["n_depths"] >= 2
    assert r["decay_slope"] < 0
    assert r["halflife_depth"] > 0
    assert 0.0 <= r["r2"] <= 1.0 + 1e-9


def test_fertility_at_least_one_token_per_word(spark):
    """The BPE-ish tokenizer never merges across whitespace, so tokens
    >= words and fertility >= 1 for every language."""
    rows = STAGED["tokenizer_fertility_by_language"][0](
        spark, SF_SMALL
    ).collect()
    assert rows
    for r in rows:
        assert r["n_tokens"] >= r["n_words"]
        assert r["fertility"] >= 1.0
        assert r["chars_per_token"] > 0


def test_weighted_quantiles_monotone(spark):
    """Weighted quantile values are nondecreasing in tau and each
    cumulative share covers at least its tau."""
    rows = sorted(
        STAGED["weighted_quantiles_quantity"][0](spark, SF_SMALL).collect(),
        key=lambda r: r["tau"],
    )
    assert len(rows) == 3
    vals = [r["value"] for r in rows]
    assert vals == sorted(vals)
    for r in rows:
        assert r["cum_weight_share"] >= r["tau"] - 1e-9


def test_simpson_screen_counts_partition(spark):
    r = STAGED["simpson_paradox_screen"][0](spark, SF_SMALL).collect()[0]
    assert r["n_pos"] + r["n_neg"] <= r["n_strata"]
    assert r["reversal_flag"] in (0, 1)
    assert -1.0 <= r["aggregate_diff"] <= 1.0


# ---------------------------------------------------------------------------
# Wave 9 property pins
# ---------------------------------------------------------------------------


def test_atkinson_indices_ordered_and_bounded(spark):
    """0 <= A_0.5 <= A_2 < 1: Atkinson is in [0,1) and nondecreasing in
    the aversion parameter (more aversion can only see more
    inequality)."""
    r = STAGED["atkinson_index_customer_revenue"][0](spark, SF_SMALL).collect()[0]
    assert 0.0 <= r["atkinson_e05"] < 1.0
    assert r["atkinson_e05"] <= r["atkinson_e2"] + 1e-9
    assert r["atkinson_e2"] < 1.0


def test_income_shares_partition_and_palma(spark):
    """Quintile shares sum to 1, are nondecreasing q1->q5 (ranked by
    revenue), and the Palma ratio equals top10/bottom40."""
    rows = {r["segment"]: r for r in
            STAGED["income_share_ratios_revenue"][0](spark, SF_SMALL).collect()}
    qs = [rows[f"q{i}"]["revenue_share"] for i in range(1, 6)]
    assert abs(sum(qs) - 1.0) < 1e-5
    assert qs == sorted(qs)
    palma = rows["q1"]["palma_ratio"]
    assert abs(palma - rows["top10"]["revenue_share"]
               / rows["bottom40"]["revenue_share"]) < 1e-4


def test_odds_ratio_ci_brackets_point(spark):
    r = STAGED["odds_ratio_click_purchase"][0](spark, SF_SMALL).collect()[0]
    assert r["n_users"] == (r["n_both"] + r["n_click_only"]
                            + r["n_purchase_only"] + r["n_neither"])
    assert r["ci_low"] <= r["odds_ratio"] <= r["ci_high"]
    assert r["odds_ratio"] > 0


def test_gamma_against_reference(spark):
    """Replay gamma from the raw contingency table in pure Python."""
    import duckdb as d

    cells = d.sql(
        "SELECT CAST(substring(o_orderpriority,1,1) AS INT) pr, "
        "o_orderstatus st, count(*) n FROM "
        f"'{os.path.join(SF_SMALL, 'orders.parquet')}' GROUP BY 1,2"
    ).fetchall()
    conc = disc = 0
    for pa, sa, na in cells:
        for pb, sb, nb in cells:
            if pa < pb and sa < sb:
                conc += na * nb
            elif pa < pb and sa > sb:
                disc += na * nb
    r = STAGED["goodman_kruskal_gamma_priority_status"][0](
        spark, SF_SMALL
    ).collect()[0]
    assert r["concordant"] == conc and r["discordant"] == disc
    assert abs(r["gamma"] - (conc - disc) / (conc + disc)) < 1e-5


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
