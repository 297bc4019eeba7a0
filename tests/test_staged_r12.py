"""Oracle checks for the governance and decision operators in
queries/staged_r12.py — the same Spark-vs-DuckDB comparison the driver
gate runs, plus independent invariants beyond the oracle.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL, assert_matches_oracle, module_queries

REGISTERED = module_queries("staged_r12")


@pytest.mark.parametrize("name", sorted(REGISTERED))
def test_staged_query_matches_oracle(spark, con, name):
    fn, oracle = REGISTERED[name]
    assert_matches_oracle(spark, con, name, fn, oracle)


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


def test_k_anonymity_monotone_in_k(spark):
    """Raising k can only grow the at-risk set."""
    fn, _ = REGISTERED["k_anonymity_customer_qi"]
    rows = sorted(fn(spark, SF_SMALL).collect(), key=lambda r: r["k"])
    risk = [r["rows_at_risk"] for r in rows]
    grp = [r["groups_below"] for r in rows]
    assert risk == sorted(risk)
    assert grp == sorted(grp)
    for r in rows:
        assert 0.0 <= r["risk_share"] <= 1.0


def test_l_diversity_bounds(spark):
    fn, _ = REGISTERED["l_diversity_order_priority"]
    row = fn(spark, SF_SMALL).collect()[0]
    assert 1 <= row["min_l"] <= 5  # 5 distinct priorities exist
    assert row["groups_l_below_2"] <= row["groups_l_below_3"] <= row["n_groups"]
    assert row["min_l"] <= row["avg_l"] <= 5.0


def test_dp_noise_is_laplace_shaped(spark):
    """Released counts differ from true counts by the deterministic
    Laplace draw; at b=1 the median |noise| is ln 2 over many groups."""
    fn, _ = REGISTERED["dp_noisy_counts_laplace"]
    rows = fn(spark, SF_SMALL).collect()
    assert len(rows) >= 100  # 30 days x 5 types
    noises = sorted(r["abs_noise"] for r in rows)
    med = noises[len(noises) // 2]
    assert 0.3 < med < 1.5  # median of |Laplace(1)| = ln 2 ≈ 0.693
    for r in rows[:10]:
        assert abs(r["released_n"] - r["true_n"]) <= 15  # tail bound, b=1


def test_target_encoding_shrinks_toward_global(spark):
    """|encoded - global| <= |raw - global| for every segment."""
    fn, _ = REGISTERED["target_encoding_smoothed"]
    rows = fn(spark, SF_SMALL).collect()
    # recover global mean: encoded = (n*m + 50*g)/(n+50) -> g
    r0 = rows[0]
    g = (r0["encoded"] * (r0["n"] + 50.0) - r0["n"] * r0["seg_mean"]) / 50.0
    for r in rows:
        assert abs(r["encoded"] - g) <= abs(r["seg_mean"] - g) + 1e-6


def test_woe_iv_consistency(spark):
    """WOE shares sum: sum over bands of pos-share minus neg-share = 0,
    IV total equals the recomputed sum of terms."""
    fn, _ = REGISTERED["woe_iv_acctbal_band"]
    rows = fn(spark, SF_SMALL).collect()
    tg = sum(r["n_pos"] + 0.5 for r in rows)
    tb = sum(r["n_neg"] + 0.5 for r in rows)
    iv = sum(
        ((r["n_pos"] + 0.5) / tg - (r["n_neg"] + 0.5) / tb) * r["woe"]
        for r in rows
    )
    assert abs(iv - rows[0]["iv_total"]) < 1e-4
    assert rows[0]["iv_total"] >= 0.0


def test_vif_at_least_one(spark):
    """VIF_i >= 1 always (R^2_i >= 0); det in (0, 1]."""
    fn, _ = REGISTERED["vif_lineitem_factors"]
    row = fn(spark, SF_SMALL).collect()[0]
    for c in ("vif_quantity", "vif_extendedprice", "vif_discount"):
        assert row[c] >= 1.0 - 1e-9
    assert 0.0 < row["corr_det"] <= 1.0 + 1e-9


def test_partial_corr_in_unit_interval(spark):
    fn, _ = REGISTERED["partial_corr_qty_price_disc"]
    row = fn(spark, SF_SMALL).collect()[0]
    assert -1.0 <= row["r_partial"] <= 1.0
    assert row["confounding_shift"] >= 0.0


def test_conformal_coverage_near_nominal(spark):
    """Split conformal at alpha=0.1 guarantees coverage >= 0.9 - O(1/n)
    in expectation; on a fixed split allow a slack band."""
    fn, _ = REGISTERED["conformal_interval_totalprice"]
    row = fn(spark, SF_SMALL).collect()[0]
    assert row["qhat"] > 0
    assert 0.80 <= row["coverage"] <= 1.0
    assert row["n_calib"] > 0 and row["n_test"] > 0


def test_iptw_weights_bounded_and_correcting(spark):
    """Max IPW weight is 1/min(ps) — finite given overlap; the ATE and
    naive difference are both finite."""
    fn, _ = REGISTERED["iptw_ate_urgent_revenue"]
    row = fn(spark, SF_SMALL).collect()[0]
    assert row["max_weight"] >= 1.0
    assert row["max_weight"] < 100.0  # positivity holds on TPC-H priorities
    assert abs(row["ate_hajek"]) < 1e6 and abs(row["naive_diff"]) < 1e6


def test_rdd_limits_consistent(spark):
    fn, _ = REGISTERED["rdd_acctbal_threshold"]
    row = fn(spark, SF_SMALL).collect()[0]
    assert abs(row["rd_effect"] - (row["right_limit"] - row["left_limit"])) < 1e-3
    assert row["n_window"] > 0


def test_its_pre_trend_plus_changes_reconstruct(spark):
    """The four coefficients must reproduce the post-period mean:
    checked loosely — level_change and slope_change are finite and the
    day count matches the calendar."""
    fn, _ = REGISTERED["its_segmented_daily_revenue"]
    row = fn(spark, SF_SMALL).collect()[0]
    assert 28 <= row["n_days"] <= 31
    for c in ("base_slope", "level_change", "slope_change", "intercept"):
        assert abs(row[c]) < 1e7


def test_weibull_shape_positive(spark):
    fn, _ = REGISTERED["weibull_fit_time_to_purchase"]
    row = fn(spark, SF_SMALL).collect()[0]
    assert row["shape_k"] > 0
    assert row["scale_hours"] > 0
    # median < scale iff k < 1 (ln2^(1/k) < 1); consistency either way
    import math

    expected_median = row["scale_hours"] * math.log(2) ** (1 / row["shape_k"])
    assert abs(expected_median - row["median_hours"]) / expected_median < 0.01


def test_spectral_entropy_normalized_in_unit(spark):
    fn, _ = REGISTERED["spectral_entropy_daily_revenue"]
    row = fn(spark, SF_SMALL).collect()[0]
    assert 0.0 <= row["normalized_entropy"] <= 1.0 + 1e-9
    assert row["n_freqs"] == 14


def test_yule_walker_stationarity_triangle(spark):
    """AR(2) from Yule-Walker on biased autocorrs always lands inside
    the stationarity triangle: |phi2| < 1, phi1 + phi2 < 1,
    phi2 - phi1 < 1."""
    fn, _ = REGISTERED["yule_walker_ar2_daily"]
    row = fn(spark, SF_SMALL).collect()[0]
    assert abs(row["phi2"]) < 1.0
    assert row["phi1"] + row["phi2"] < 1.0
    assert row["phi2"] - row["phi1"] < 1.0
    assert abs(row["r1"]) <= 1.0 and abs(row["r2"]) <= 1.0


def test_poisson_rate_ratio_matches_rates(spark):
    fn, _ = REGISTERED["poisson_two_rate_test"]
    row = fn(spark, SF_SMALL).collect()[0]
    assert abs(row["rate_ratio"] - row["rate2"] / row["rate1"]) < 1e-2
    assert row["events_first_half"] + row["events_second_half"] > 0


def test_anderson_darling_nonnegative(spark):
    fn, _ = REGISTERED["anderson_darling_click_purchase"]
    row = fn(spark, SF_SMALL).collect()[0]
    assert row["ad_statistic"] >= 0.0
    assert row["n_click"] > 0 and row["n_purchase"] > 0


def test_eb_shrinkage_contracts_toward_pooled(spark):
    """Every shrunk rate sits between the raw rate and the pooled mean."""
    fn, _ = REGISTERED["eb_shrunk_source_rates"]
    rows = fn(spark, SF_SMALL).collect()
    pbar = sum(r["raw_rate"] for r in rows) / len(rows)
    for r in rows:
        lo, hi = sorted((r["raw_rate"], pbar))
        assert lo - 1e-6 <= r["shrunk_rate"] <= hi + 1e-6


def test_stickiness_bounds(spark):
    """avg DAU <= WAU always; stickiness in (0, 1]."""
    fn, _ = REGISTERED["dau_wau_stickiness"]
    rows = fn(spark, SF_SMALL).collect()
    assert len(rows) >= 4
    for r in rows:
        assert 0.0 < r["stickiness"] <= 1.0 + 1e-9
        assert r["avg_dau"] <= r["wau"] + 1e-9


def test_bounce_rate_and_depth_consistent(spark):
    fn, _ = REGISTERED["session_bounce_depth"]
    rows = fn(spark, SF_SMALL).collect()
    for r in rows:
        assert 0.0 <= r["bounce_rate"] <= 1.0
        assert r["avg_depth"] >= 1.0
        assert r["max_depth"] >= 1


def test_zorder_cells_cover_all_users(spark):
    """Cell counts sum to <= distinct users (top-25 cut) and every cell
    coordinate pair is on the 16x16 grid."""
    fn, _ = REGISTERED["geo_zorder_cell_counts"]
    rows = fn(spark, SF_SMALL).collect()
    for r in rows:
        assert 0 <= r["gy"] <= 15 and 0 <= r["gx"] <= 15
        assert 0 <= r["zcell"] <= 255


def test_haversine_knn_shape_and_monotone(spark):
    fn, _ = REGISTERED["geo_haversine_knn"]
    rows = fn(spark, SF_SMALL).collect()
    assert len(rows) == 25 * 3
    from collections import defaultdict

    per = defaultdict(list)
    for r in rows:
        per[r["qid"]].append((r["rn"], r["km"]))
    for qid, lst in per.items():
        lst.sort()
        kms = [k for _, k in lst]
        assert kms == sorted(kms)
        assert all(0 <= k <= 20100 for k in kms)  # max half circumference


def test_bbox_join_keeps_all_boxes(spark):
    fn, _ = REGISTERED["geo_bbox_containment_join"]
    rows = fn(spark, SF_SMALL).collect()
    assert len(rows) == 25  # every nation box present even if empty
    for r in rows:
        assert r["n_inside"] >= 0


def test_closeness_bounds(spark):
    """Closeness = reached/total_dist <= 1 (every distance >= 1), and
    total_dist >= n_reached."""
    fn, _ = REGISTERED["closeness_centrality_trade"]
    rows = fn(spark, SF_SMALL).collect()
    # sf0.001's sparsified trade graph has ~10 nations with out-edges
    assert len(rows) >= 5
    for r in rows:
        if r["n_reached"] > 0:
            assert r["total_dist"] >= r["n_reached"]
            assert 0.0 < r["closeness"] <= 1.0 + 1e-9


def test_cif_sum_bounded_and_monotone(spark):
    """Each CIF is nondecreasing and their sum never exceeds 1 — the
    property per-cause 1-KM famously violates under competing risks."""
    fn, _ = REGISTERED["aalen_johansen_cif"]
    rows = sorted(fn(spark, SF_SMALL).collect(), key=lambda r: r["duration_h"])
    prev_p = prev_e = 0.0
    for r in rows:
        assert r["cif_purchase"] >= prev_p - 1e-9
        assert r["cif_error"] >= prev_e - 1e-9
        prev_p, prev_e = r["cif_purchase"], r["cif_error"]
        assert r["cif_purchase"] + r["cif_error"] <= 1.0 + 1e-6


def test_entropy_rate_below_joint_and_cap(spark):
    """Conditioning can't raise entropy: rate <= joint <= ... and the
    normalized rate sits in [0, 1]."""
    fn, _ = REGISTERED["entropy_rate_markov"]
    row = fn(spark, SF_SMALL).collect()[0]
    assert 0.0 <= row["entropy_rate_nats"] <= row["joint_entropy_nats"] + 1e-9
    assert 0.0 <= row["normalized_rate"] <= 1.0 + 1e-9


def test_growth_accounting_identity(spark):
    """Week-1 actives decompose exactly: every active user is new,
    retained, or resurrected; week 0 has no retained/resurrected."""
    fn, _ = REGISTERED["growth_accounting_weekly"]
    rows = sorted(fn(spark, SF_SMALL).collect(), key=lambda r: r["week_idx"])
    w0 = rows[0]
    assert w0["week_idx"] == 0
    assert w0["retained"] == 0 and w0["resurrected"] == 0 and w0["churned"] == 0
    for r in rows:
        assert 0.0 <= (r["retention_rate"] or 0.0) <= 1.0 + 1e-9


def test_cmh_chi2_nonnegative_and_or_positive(spark):
    fn, _ = REGISTERED["cmh_test_segment_strata"]
    row = fn(spark, SF_SMALL).collect()[0]
    assert row["cmh_chi2"] >= 0.0
    assert row["mh_odds_ratio"] > 0.0
    assert row["n_strata"] == 5
