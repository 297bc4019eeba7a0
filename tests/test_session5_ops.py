"""Tests for the round-7 session-5 operators: portable HLL, stateful
debounce, PIT join, skyline/global_cummax, market basket, Welch t-test."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from ror_etl_spark.registry import QUERIES, load_all
from tests.conftest import SF_SMALL

load_all()


# ---------------------------------------------------------------- cummax


def test_global_cummax_equals_single_task_window(spark):
    from pyspark.sql import Window as W

    from ror_etl_spark.operators.util import global_cummax

    df = spark.range(0, 997).select(
        (F.col("id") * 2654435761 % 1000003).alias("k"),
        ((F.col("id") * 40503) % 9973).alias("v"),
    ).distinct()
    expect = {
        r["k"]: r["pm"]
        for r in df.withColumn(
            "pm",
            F.max("v").over(W.orderBy("k").rowsBetween(W.unboundedPreceding, -1)),
        ).collect()
    }
    got = {
        r["k"]: r["prior_max"]
        for r in global_cummax(df, ["k"], "v", n_parts=7).collect()
    }
    assert got == expect


# ---------------------------------------------------------------- skyline


def test_skyline_matches_quadratic_reference(spark):
    rows = QUERIES["skyline_pareto_parts"](spark, SF_SMALL).collect()
    pts = [
        (float(r["p_retailprice"]), int(r["p_size"]), int(r["p_partkey"]))
        for r in spark.read.parquet(f"{SF_SMALL}/part.parquet")
        .select("p_retailprice", "p_size", "p_partkey")
        .collect()
    ]
    expect = {
        (pk, c, s)
        for (c, s, pk) in pts
        if not any(
            oc <= c and os_ >= s and (oc < c or os_ > s) for (oc, os_, _) in pts
        )
    }
    got = {(int(r["partkey"]), float(r["cost"]), int(r["size"])) for r in rows}
    assert got == expect


# --------------------------------------------------------------- debounce


def test_debounce_matches_python_walk(spark):
    """Arbitrates the engine against an independent greedy walk — the
    reference that exposed DuckDB v1.0.0's list_reduce accumulator
    corruption (oracle now uses a recursive CTE instead)."""
    from collections import defaultdict

    ev = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .select("user_id", "event_type", "event_id", "ts")
        .collect()
    )
    groups = defaultdict(list)
    for r in ev:
        us = int(r["ts"].timestamp() * 1_000_000) if hasattr(r["ts"], "timestamp") else int(r["ts"])
        groups[(r["user_id"], r["event_type"])].append((us, r["event_id"]))
    agg = defaultdict(lambda: [0, 0, 0])
    for (_, et), lst in groups.items():
        lst.sort()
        last = None
        for tus, eid in lst:
            agg[et][0] += 1
            if last is None or tus >= last + 600_000_000:
                agg[et][1] += 1
                agg[et][2] += eid
                last = tus
    rows = QUERIES["dedup_events_debounce"](spark, SF_SMALL).collect()
    got = {r["event_type"]: (r["n_total"], r["n_kept"], r["kept_id_sum"]) for r in rows}
    assert got == {et: tuple(v) for et, v in agg.items()}


def test_debounce_chain_semantics_not_lag(spark):
    """Sub-threshold chains: events at 0s, 300s, 650s — a raw-lag filter
    would drop 300 and KEEP 650 (650-300 >= 600 is false... 350 < 600 so
    lag also drops it); the distinguishing case is 0, 300, 700: greedy
    keeps 0 and 700 (700 >= 600), while lag-vs-previous-raw drops 700
    (700-300=400 < 600). Pin the greedy behavior."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "user_id": [1, 1, 1],
            "event_type": ["x", "x", "x"],
            "event_id": [10, 11, 12],
            "ts": pd.to_datetime([0, 300_000_000_000, 700_000_000_000]),
        }
    )
    df = spark.createDataFrame(pdf)
    import tempfile, os

    d = tempfile.mkdtemp()
    for name in ("events",):
        df.write.mode("overwrite").parquet(os.path.join(d, f"{name}.parquet"))
    rows = QUERIES["dedup_events_debounce"](spark, d).collect()
    assert rows[0]["n_kept"] == 2
    assert rows[0]["kept_id_sum"] == 22  # 10 + 12: the chain re-anchors at 0s


# ---------------------------------------------------------------- HLL


def test_hll_all_row_is_register_merge(spark):
    """Mergeability: the ALL row's registers equal the per-segment max
    merge, so est('ALL') must equal the estimate computed from merged
    segment registers — rebuild both from raw data and compare."""
    e = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    w_mask = (1 << 44) - 1
    regs = (
        e.select("event_type", "user_id")
        .withColumn(
            "h",
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 13), 16, 10
            ).cast("long"),
        )
        .select(
            "event_type",
            F.shiftright("h", 44).alias("idx"),
            F.col("h").bitwiseAND(F.lit(w_mask)).alias("w"),
        )
        .withColumn(
            "rho",
            F.when(F.col("w") == 0, F.lit(45)).otherwise(
                F.lit(45) - F.length(F.expr("bin(w)"))
            ),
        )
        .groupBy("event_type", "idx")
        .agg(F.max("rho").alias("m"))
        .collect()
    )
    merged = {}
    for r in regs:
        merged[r["idx"]] = max(merged.get(r["idx"], 0), r["m"])
    ssum = sum(1 << (45 - m) for m in merged.values()) + (256 - len(merged)) * (
        1 << 45
    )
    alpha = 0.7213 / (1.0 + 1.079 / 256.0)
    raw = alpha * 256.0 * 256.0 * 35184372088832.0 / ssum
    v = 256 - len(merged)
    import math

    corrected = 256.0 * math.log(256.0 / v) if (raw <= 640.0 and v > 0) else raw
    rows = QUERIES["sketch_hll_portable_rollup"](spark, SF_SMALL).collect()
    all_row = next(r for r in rows if r["segment"] == "ALL")
    assert all_row["v_empty"] == v
    assert abs(all_row["est_hll"] - corrected) < 1e-3


def test_hll_error_within_bounds_at_sf001(spark):
    rows = QUERIES["sketch_hll_portable_rollup"](spark, "/root/testdata/sf0.01").collect()
    for r in rows:
        # m=256 -> stderr ~1.04/16 = 6.5%; linear counting is tighter at
        # these cardinalities. 25% is a loose sanity band, not the claim.
        assert abs(r["rel_err"]) < 0.25, r


# ---------------------------------------------------------------- PIT


def test_pit_join_equals_interval_join(spark):
    """asof formulation == interval (BETWEEN) join, the independent
    semantics the oracle uses — re-verified engine-side on sf0.001."""
    from ror_etl_spark.queries.linkage import scd2_point_in_time_join

    got = {
        r["status"]: (r["n_lines"], r["n_customers"], float(r["revenue"]))
        for r in scd2_point_in_time_join(spark, SF_SMALL).collect()
    }
    import duckdb

    from ror_etl_spark.registry import ORACLES

    con = duckdb.connect()
    for t in ("orders", "customer", "lineitem"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMALL}/{t}.parquet'"
        )
    exp = {
        r[0]: (r[1], r[2], float(r[3]))
        for r in con.execute(ORACLES["scd2_point_in_time_join"]).fetchall()
    }
    assert got == exp


# ---------------------------------------------------------------- basket


def test_basket_lift_reference(spark):
    """Lift of every reported pair recomputed from raw counts."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW items AS SELECT DISTINCT l_orderkey ok, l_partkey pk"
        f" FROM '{SF_SMALL}/lineitem.parquet'"
    )
    nb = con.execute("SELECT count(DISTINCT ok) FROM items").fetchone()[0]
    cnt = dict(con.execute("SELECT pk, count(*) FROM items GROUP BY pk").fetchall())
    pairs = {
        (a, b): n
        for a, b, n in con.execute(
            "SELECT a.pk, b.pk, count(*) FROM items a JOIN items b"
            " ON a.ok = b.ok AND a.pk < b.pk GROUP BY a.pk, b.pk"
        ).fetchall()
    }
    rows = QUERIES["market_basket_lift"](spark, SF_SMALL).collect()
    for r in rows:
        np = pairs[(r["p1"], r["p2"])]
        assert r["n_pair"] == np and np >= 2
        lift = np * nb / (cnt[r["p1"]] * cnt[r["p2"]])
        assert abs(r["lift"] - lift) < 5e-4
    # ordering: non-increasing lift
    lifts = [r["lift"] for r in rows]
    assert lifts == sorted(lifts, reverse=True)


# ---------------------------------------------------------------- welch


def test_welch_ttest_matches_scipy_free_reference(spark):
    import math

    import duckdb

    vals = duckdb.sql(
        f"SELECT event_type, value FROM '{SF_SMALL}/events.parquet'"
        " WHERE event_type IN ('click','purchase')"
    ).fetchall()
    a = [v for t, v in vals if t == "click"]
    b = [v for t, v in vals if t == "purchase"]

    def mv(x):
        n = len(x)
        m = sum(x) / n
        v = sum((e - m) ** 2 for e in x) / (n - 1)
        return n, m, v

    n1, m1, v1 = mv(a)
    n2, m2, v2 = mv(b)
    t = (m1 - m2) / math.sqrt(v1 / n1 + v2 / n2)
    dof = (v1 / n1 + v2 / n2) ** 2 / (
        (v1 / n1) ** 2 / (n1 - 1) + (v2 / n2) ** 2 / (n2 - 1)
    )
    row = QUERIES["ab_welch_ttest"](spark, SF_SMALL).collect()[0]
    assert row["n1"] == n1 and row["n2"] == n2
    assert abs(row["t_stat"] - t) < 1e-3
    assert abs(row["dof_welch"] - dof) < 0.05


# ---------------------------------------------------------------- ohlc


def test_ohlc_open_close_are_chronological_extremes(spark):
    rows = QUERIES["ohlc_hourly_purchases"](spark, SF_SMALL).collect()
    import duckdb

    ref = duckdb.sql(
        f"""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
               first(value ORDER BY ts, event_id) AS open,
               last(value ORDER BY ts, event_id) AS close,
               max(value) AS high, min(value) AS low
        FROM '{SF_SMALL}/events.parquet' WHERE event_type = 'purchase'
        GROUP BY 1 ORDER BY 1
        """
    ).fetchall()
    exp = {h: (o, c, hi, lo) for h, o, c, hi, lo in ref}
    assert len(rows) == len(exp)
    for r in rows:
        o, c, hi, lo = exp[r["hour"]]
        assert abs(r["open"] - o) < 1e-3 and abs(r["close"] - c) < 1e-3
        assert abs(r["high"] - hi) < 1e-3 and abs(r["low"] - lo) < 1e-3
        assert r["low"] <= min(r["open"], r["close"]) + 1e-9
        assert r["high"] >= max(r["open"], r["close"]) - 1e-9


# ------------------------------------------------------- rolling distinct


def test_rolling_distinct_users_brute_force(spark):
    import duckdb
    from collections import defaultdict

    du = duckdb.sql(
        f"SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) d, user_id"
        f" FROM '{SF_SMALL}/events.parquet'"
    ).fetchall()
    days = sorted({d for d, _ in du})
    exp = {}
    for day in days:
        exp[str(day)] = len(
            {u for d, u in du if 0 <= (day - d).days <= 6}
        )
    got = {
        r["day"]: r["users_7d"]
        for r in QUERIES["rolling_distinct_users_7d"](spark, SF_SMALL).collect()
    }
    assert got == exp


# ---------------------------------------------------------------- chisq


def test_chisq_reference(spark):
    import duckdb
    from collections import Counter

    vals = duckdb.sql(
        f"SELECT event_type, value FROM '{SF_SMALL}/events.parquet'"
    ).fetchall()
    cells = Counter((t, min(int(v // 50), 4)) for t, v in vals)
    rt = Counter()
    ct = Counter()
    for (t, b), o in cells.items():
        rt[t] += o
        ct[b] += o
    n = sum(cells.values())
    chi2 = sum(
        (o - rt[t] * ct[b] / n) ** 2 / (rt[t] * ct[b] / n)
        for (t, b), o in cells.items()
    )
    row = QUERIES["chisq_event_type_value_band"](spark, SF_SMALL).collect()[0]
    assert abs(row["chi2"] - chi2) < 1e-3
    assert row["dof"] == (len(rt) - 1) * (len(ct) - 1)


# --------------------------------------------------------------- benford


def test_benford_digits_and_frequencies(spark):
    import math

    rows = QUERIES["benford_first_digit_totalprice"](spark, SF_SMALL).collect()
    assert [r["digit"] for r in rows] == sorted({r["digit"] for r in rows})
    assert all(1 <= r["digit"] <= 9 for r in rows)
    tot = sum(r["n"] for r in rows)
    for r in rows:
        assert abs(r["observed"] - r["n"] / tot) < 1e-5
        assert abs(r["benford"] - math.log10(1 + 1 / r["digit"])) < 1e-5
    assert abs(sum(r["observed"] for r in rows) - 1.0) < 1e-3


# --------------------------------------------------------- components


def test_connected_components_vs_union_find(spark):
    import duckdb

    con = duckdb.connect()
    for t in ("lineitem", "orders", "customer", "supplier", "nation"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMALL}/{t}.parquet'")
    w = con.execute(
        """
        SELECT s.s_nationkey u, c.c_nationkey v, count(*) wt
        FROM lineitem l JOIN orders o ON l.l_orderkey=o.o_orderkey
        JOIN customer c ON o.o_custkey=c.c_custkey
        JOIN supplier s ON s.s_suppkey=l.l_suppkey
        WHERE s.s_nationkey <> c.c_nationkey GROUP BY 1,2
        """
    ).fetchall()
    bar = 1.3 * sum(x[2] for x in w) / len(w)
    parent = {n: n for (n,) in con.execute(
        "SELECT n_nationkey FROM nation").fetchall()}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v, wt in w:
        if wt >= bar:
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
    # canonical = min member id per root
    comp = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    want = {}
    for root, members in comp.items():
        label = min(members)
        for m in members:
            want[m] = (label, len(members))
    got = {
        r["n_nationkey"]: (r["component"], r["component_size"])
        for r in QUERIES["connected_components_trade_graph"](
            spark, SF_SMALL
        ).collect()
    }
    assert got == want


# ------------------------------------------------------------ balance


def test_running_balance_reflection_equals_sequential_fold(spark):
    """The Skorokhod reflection identity vs the naive sequential
    definition b_i = max(0, b_{i-1} + d_i) — the theorem the query's
    window formulation rests on, checked on real data."""
    import duckdb
    from collections import defaultdict

    rows = duckdb.sql(
        f"""
        SELECT user_id, epoch_us(ts) tus, event_id,
               CASE WHEN event_type='purchase'
                    THEN CAST(round(value*100) AS BIGINT)
                    ELSE -CAST(round(value*100) AS BIGINT) END d
        FROM '{SF_SMALL}/events.parquet'
        WHERE event_type IN ('purchase','click')
        """
    ).fetchall()
    g = defaultdict(list)
    for u, tus, eid, d in rows:
        g[u].append((tus, eid, d))
    want = {}
    for u, lst in g.items():
        lst.sort()
        b = 0
        peak = 0
        floored = 0
        for _, _, d in lst:
            b = max(0, b + d)
            peak = max(peak, b)
            floored += b == 0
        want[u] = (len(lst), b, peak, floored)
    got = {
        r["user_id"]: (r["n_tx"], r["final_cents"], r["peak_cents"], r["n_floored"])
        for r in QUERIES["running_balance_floor0"](spark, SF_SMALL).collect()
    }
    assert got == want


# ---------------------------------------------------------------- auc


def test_auc_matches_bruteforce_pair_count(spark):
    """AUC == P(score_pos > score_neg) + 0.5 P(tie), counted directly."""
    import duckdb

    rows = duckdb.sql(
        f"SELECT n_chars, lang = 'en' FROM '{SF_SMALL}/documents.parquet'"
    ).fetchall()
    pos = [s for s, p in rows if p]
    neg = [s for s, p in rows if not p]
    wins = sum(1 for a in pos for b in neg if a > b)
    ties = sum(1 for a in pos for b in neg if a == b)
    want = (wins + 0.5 * ties) / (len(pos) * len(neg))
    r = QUERIES["auc_doclen_vs_lang"](spark, SF_SMALL).collect()[0]
    assert r["n_pos"] == len(pos) and r["n_neg"] == len(neg)
    assert abs(r["auc"] - want) < 1e-5


def test_global_cumsum_equals_single_task_window(spark):
    from pyspark.sql import Window as W

    from ror_etl_spark.operators.util import global_cumsum

    df = spark.range(0, 997).select(
        (F.col("id") * 2654435761 % 1000003).alias("k"),
        ((F.col("id") * 40503) % 97).alias("v"),
    ).distinct()
    expect = {
        r["k"]: r["ps"]
        for r in df.withColumn(
            "ps",
            F.coalesce(
                F.sum("v").over(
                    W.orderBy("k").rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        ).collect()
    }
    got = {
        r["k"]: r["prior_sum"]
        for r in global_cumsum(df, ["k"], "v", n_parts=7).collect()
    }
    assert got == expect


# ---------------------------------------------------------------- kappa


def test_kappa_from_confusion_matrix(spark):
    cm = {
        (r["lang"], r["pred"]): r["n"]
        for r in QUERIES["text_lang_id"](spark, SF_SMALL).collect()
    }
    n = sum(cm.values())
    po = sum(v for (a, b), v in cm.items() if a == b) / n
    rows = {}
    cols = {}
    for (a, b), v in cm.items():
        rows[a] = rows.get(a, 0) + v
        cols[b] = cols.get(b, 0) + v
    pe = sum(rows.get(k, 0) * cols.get(k, 0) for k in set(rows) | set(cols)) / n**2
    want = (po - pe) / (1 - pe)
    r = QUERIES["cohens_kappa_lang_id"](spark, SF_SMALL).collect()[0]
    assert r["n_docs"] == n
    assert abs(r["kappa"] - want) < 1e-5


# ----------------------------------------------------------- int8 quant


def test_int8_quant_error_bounded_by_half_scale(spark):
    """Affine rounding error per term is <= s/2; the reported max must
    respect the worst dimension's bound, and the relative L2 error must
    be small but nonzero on real float data."""
    import duckdb

    r = QUERIES["embedding_int8_quant_report"](spark, SF_SMALL).collect()[0]
    mx = duckdb.sql(
        f"""
        WITH x AS (SELECT generate_subscripts(embedding, 1) AS dim,
                          CAST(unnest(embedding) AS DOUBLE) v
                   FROM '{SF_SMALL}/embeddings.parquet'),
        per AS (SELECT (max(v) - min(v)) / 255.0 / 2.0 AS hs
                FROM x GROUP BY dim)
        SELECT max(hs) FROM per
        """
    ).fetchone()[0]
    assert r["n_dims"] == 64
    assert 0 < r["max_abs_err"] <= mx + 1e-9
    assert 0 < r["rel_l2_err"] < 0.01


# ----------------------------------------------------------- transitions


def test_transition_matrix_rows_sum_to_one(spark):
    import duckdb
    from collections import Counter, defaultdict

    ev = duckdb.sql(
        f"SELECT user_id, event_type, epoch_us(ts), event_id"
        f" FROM '{SF_SMALL}/events.parquet'"
    ).fetchall()
    by_user = defaultdict(list)
    for u, et, tus, eid in ev:
        by_user[u].append((tus, eid, et))
    cnt = Counter()
    for lst in by_user.values():
        lst.sort()
        for a, b in zip(lst, lst[1:]):
            cnt[(a[2], b[2])] += 1
    rows = QUERIES["event_transition_matrix"](spark, SF_SMALL).collect()
    assert {(r["src"], r["dst"]): r["n"] for r in rows} == dict(cnt)
    from collections import defaultdict as dd

    sums = dd(float)
    for r in rows:
        sums[r["src"]] += r["p"]
    assert all(abs(s - 1.0) < 1e-4 for s in sums.values())


# ------------------------------------------------------- max concurrent


def test_max_concurrent_sweepline_reference(spark):
    import duckdb
    from collections import defaultdict

    ev = duckdb.sql(
        f"SELECT user_id, epoch_us(ts), event_id FROM '{SF_SMALL}/events.parquet'"
    ).fetchall()
    by_user = defaultdict(list)
    for u, tus, eid in ev:
        by_user[u].append((tus, eid))
    bounds = []
    n_sessions = 0
    for u, lst in by_user.items():
        lst.sort()
        st = lst[0][0]
        prev = lst[0][0]
        for tus, _ in lst[1:]:
            if tus - prev > 1_800_000_000:
                bounds += [(st, 1), (prev + 1_800_000_000, -1)]
                n_sessions += 1
                st = tus
            prev = tus
        bounds += [(st, 1), (prev + 1_800_000_000, -1)]
        n_sessions += 1
    bounds.sort()  # (t, -1) sorts before (t, +1): ends close first
    cur = mx = 0
    at = None
    for t, d in bounds:
        cur += d
        if cur > mx:
            mx = cur
            at = t
    r = QUERIES["max_concurrent_sessions"](spark, SF_SMALL).collect()[0]
    assert r["n_sessions"] == n_sessions
    assert r["max_concurrent"] == mx
    assert r["at_us"] == at


# ------------------------------------------------------------ gini split


def test_gini_split_brute_force(spark):
    import duckdb

    rows = duckdb.sql(
        f"SELECT o_totalprice, o_orderstatus = 'F'"
        f" FROM '{SF_SMALL}/orders.parquet'"
    ).fetchall()
    import collections

    g = collections.defaultdict(lambda: [0, 0])
    for v, pos in rows:
        g[float(v)][0] += 1
        g[float(v)][1] += pos
    vals = sorted(g)
    NN = sum(c for c, _ in g.values())
    best = None
    nl = pl = 0
    for v in vals:
        nl += g[v][0]
        pl += g[v][1]
        nr = NN - nl
        if nr == 0:
            break
        pr = sum(p for _, p in g.values()) - pl
        score = (nl - (pl * pl + (nl - pl) ** 2) / nl) + (
            nr - (pr * pr + (nr - pr) ** 2) / nr
        )
        if best is None or score < best[0] - 1e-12:
            best = (score, v, nl, nr)
    r = QUERIES["best_split_gini_totalprice"](spark, SF_SMALL).collect()[0]
    assert float(r["threshold"]) == best[1]
    assert (r["n_left"], r["n_right"]) == (best[2], best[3])
    assert abs(r["gini_split"] - best[0] / NN) < 1e-5


# ---------------------------------------------------------------- mv


def test_mv_incremental_equals_full_recompute(spark):
    """The incremental delta-merge must equal a from-scratch aggregate
    over the post-CDC snapshot — engine-side double entry (the oracle
    pins the same identity against DuckDB)."""
    q = QUERIES["mv_incremental_maintenance"](spark, SF_SMALL)
    o = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    a = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        F.col("o_totalprice").alias("tp"),
    )
    b = a.where(F.col("k") % 97 != 0).select(
        "k",
        F.when((F.col("k") % 101 == 0) & (F.col("st") == "O"), F.lit("F"))
        .otherwise(F.col("st"))
        .alias("st"),
        "tp",
    ).unionByName(
        a.where(F.col("k") % 89 == 0).select(
            (-F.col("k")).alias("k"), F.lit("N").alias("st"), "tp"
        )
    )
    full = {
        r["st"]: (r["n"], float(r["total"]))
        for r in b.groupBy("st")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("tp"), 2).alias("total"))
        .collect()
    }
    got = {r["status"]: (r["n"], float(r["total"])) for r in q.collect()}
    assert got == full


# ------------------------------------------------------------ bellman-ford


def test_bounded_hops_matches_python_bellman_ford(spark):
    import duckdb
    from collections import defaultdict

    con = duckdb.connect()
    for t in ("lineitem", "orders", "customer", "supplier"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMALL}/{t}.parquet'")
    edges = con.execute(
        """
        SELECT s.s_nationkey, c.c_nationkey, CAST(min(l.l_quantity) AS BIGINT)
        FROM lineitem l JOIN orders o ON l.l_orderkey=o.o_orderkey
        JOIN customer c ON o.o_custkey=c.c_custkey
        JOIN supplier s ON s.s_suppkey=l.l_suppkey
        WHERE s.s_nationkey <> c.c_nationkey GROUP BY 1,2
        """
    ).fetchall()
    dist = {0: 0}
    for _ in range(4):
        nd = dict(dist)
        for u, v, c in edges:
            if u in dist and dist[u] + c < nd.get(v, float("inf")):
                nd[v] = dist[u] + c
        dist = nd
    got = {
        r["node"]: r["dist"]
        for r in QUERIES["cheapest_path_bounded_hops"](spark, SF_SMALL).collect()
    }
    assert got == dist


# --------------------------------------------------------- match_recognize


def test_match_recognize_counts_non_overlapping_funnels(spark):
    """Reference semantics: python re.findall over the same per-user
    trace (non-overlapping, skip-past-last-row)."""
    import re

    import duckdb
    from collections import defaultdict

    ev = duckdb.sql(
        f"SELECT user_id, event_type, epoch_us(ts), event_id"
        f" FROM '{SF_SMALL}/events.parquet'"
    ).fetchall()
    ch = {"signup": "s", "click": "c", "purchase": "p", "view": "v"}
    by_user = defaultdict(list)
    for u, et, tus, eid in ev:
        by_user[u].append((tus, eid, ch.get(et, "e")))
    pat = re.compile(r"s[^sp]*c[^sp]*p")
    n_users_matched = 0
    n_matches = 0
    n_events = 0
    for lst in by_user.values():
        lst.sort()
        trace = "".join(c for _, _, c in lst)
        n_events += len(trace)
        k = len(pat.findall(trace))
        n_matches += k
        n_users_matched += k > 0
    r = QUERIES["match_recognize_funnel"](spark, SF_SMALL).collect()[0]
    assert r["n_users"] == len(by_user)
    assert r["n_users_matched"] == n_users_matched
    assert r["n_matches"] == n_matches
    assert r["n_events"] == n_events


# ---------------------------------------------------------- fk inclusion


def test_fk_inclusion_true_fks_have_full_containment(spark):
    rows = {r["fk"]: r for r in QUERIES["fk_inclusion_report"](spark, SF_SMALL).collect()}
    assert rows["orders.o_custkey->customer.c_custkey"]["n_orphans"] == 0
    assert rows["lineitem.l_orderkey->orders.o_orderkey"]["containment"] == 1.0
    # the deliberate non-FK leg must show SOME verdict consistent with
    # its orphan count
    bad = rows["lineitem.l_suppkey->part.p_partkey"]
    assert abs(bad["containment"] - (1 - bad["n_orphans"] / bad["n_child_keys"])) < 1e-5


# ------------------------------------------------------ subtree rollup


def test_subtree_totals_match_recursive_reference(spark):
    """Message-passing subtree sums vs a python parent-chase (works for
    ANY forest shape, not just the driver chains)."""
    from collections import defaultdict

    import duckdb

    ids = [
        r[0] + 1
        for r in duckdb.sql(
            f"SELECT o_orderkey FROM '{SF_SMALL}/orders.parquet'"
        ).fetchall()
    ]
    parent = {i: (i if i % 10 == 1 else i - 1) for i in ids}
    tot = defaultdict(int)
    size = defaultdict(int)
    for n in ids:
        cur = n
        while True:
            tot[cur] += n % 97
            size[cur] += 1
            if parent[cur] == cur:
                break
            cur = parent[cur]
    got = {
        r["id"]: (r["subtree_size"], r["subtree_total"])
        for r in QUERIES["hierarchy_subtree_totals"](spark, SF_SMALL).collect()
    }
    assert got == {n: (size[n], tot[n]) for n in ids}


# ------------------------------------------------------------- checksum


def test_merkle_digest_detects_single_row_change(spark, tmp_path):
    """Replication-verify semantics: flipping ONE row's status must
    change exactly that row's bucket digest and nothing else."""
    import os

    o = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    d1 = tmp_path / "a"
    d2 = tmp_path / "b"
    o.write.parquet(os.path.join(str(d1), "orders.parquet"))
    k = o.select("o_orderkey").head()[0]
    o2 = o.withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") == k, F.lit("X")).otherwise(
            F.col("o_orderstatus")
        ),
    )
    o2.write.parquet(os.path.join(str(d2), "orders.parquet"))
    a = {
        r["bucket"]: (r["n_rows"], r["range_digest"])
        for r in QUERIES["table_checksum_merkle_ranges"](spark, str(d1)).collect()
    }
    b = {
        r["bucket"]: (r["n_rows"], r["range_digest"])
        for r in QUERIES["table_checksum_merkle_ranges"](spark, str(d2)).collect()
    }
    diff = [bk for bk in a if a[bk] != b[bk]]
    assert diff == [k % 16]
    assert a[k % 16][0] == b[k % 16][0]  # row count same; content differs


# ------------------------------------------------------- rolling HLL


def test_rolling_hll_tracks_exact_within_error_band(spark):
    """The merged-register estimate must track the exact rolling count
    within the m=256 error regime on every window, and the exact column
    must equal the exact twin query's answer."""
    hll = {r["day"]: (r["n_exact"], r["est_hll"])
           for r in QUERIES["rolling_hll_users_7d"](spark, SF_SMALL).collect()}
    exact = {r["day"]: r["users_7d"]
             for r in QUERIES["rolling_distinct_users_7d"](spark, SF_SMALL).collect()}
    assert set(hll) == set(exact)
    for day, (n, est) in hll.items():
        assert n == exact[day]
        assert abs(est - n) / max(n, 1) < 0.25


# --------------------------------------------------------- survivorship


def test_golden_record_survivor_is_longest_member(spark):
    rows = QUERIES["golden_record_survivorship"](spark, SF_SMALL).collect()
    assert rows, "driver data plants duplicate clusters"
    import duckdb

    nchars = dict(
        duckdb.sql(
            f"SELECT doc_id, n_chars FROM '{SF_SMALL}/documents.parquet'"
        ).fetchall()
    )
    for r in rows:
        assert r["size"] >= 2
        assert nchars[r["survivor_doc"]] == r["n_chars_max"]
        assert r["langs"] == ",".join(sorted(set(r["langs"].split(","))))


# ------------------------------------------------------------- k-fold


def test_cv_folds_exactly_balanced_per_stratum(spark):
    from collections import defaultdict

    rows = QUERIES["cv_fold_assignment_stratified"](spark, SF_SMALL).collect()
    per_seg = defaultdict(list)
    for r in rows:
        per_seg[r["segment"]].append(r["n"])
    for seg, ns in per_seg.items():
        assert len(ns) == 5, seg
        assert max(ns) - min(ns) <= 1, (seg, ns)


# -------------------------------------------------------------- cusum


def test_cusum_changepoint_matches_python(spark):
    import duckdb
    from collections import defaultdict

    rows = duckdb.sql(
        f"""SELECT date_trunc('day', o_orderdate) d,
                   CAST(round(o_totalprice*100) AS BIGINT) c
            FROM '{SF_SMALL}/orders.parquet'"""
    ).fetchall()
    daily = defaultdict(int)
    for d, c in rows:
        daily[d] += c
    days = sorted(daily)
    T = sum(daily.values())
    N = len(days)
    best = None
    s = 0
    for k, d in enumerate(days, 1):
        s += daily[d]
        drift = abs(N * s - k * T)
        if best is None or drift > best[0]:
            best = (drift, d, k)
    r = QUERIES["changepoint_cusum_daily_revenue"](spark, SF_SMALL).collect()[0]
    assert r["change_day"] == str(best[1])[:10]
    assert r["day_index"] == best[2] and r["n_days"] == N
    assert abs(r["max_cusum_dev"] - best[0] / (N * 100.0)) < 0.02


# --------------------------------------------------------- encoding


def test_encoding_advisor_bit_widths(spark):
    rows = {r["col"]: r for r in QUERIES["encoding_advisor_orders"](spark, SF_SMALL).collect()}
    ok = rows["o_orderstatus"]
    assert ok["n_distinct"] <= 3 and ok["dict_bits"] <= 2
    assert ok["dict_recommended"]
    # the unique key must NOT recommend dictionary encoding
    assert not rows["o_orderkey"]["dict_recommended"]
    for r in rows.values():
        want_bits = max(1, (int(r["n_distinct"]) - 1).bit_length())
        assert r["dict_bits"] == want_bits


# ----------------------------------------------------------------- abc


def test_abc_classes_partition_and_respect_thresholds(spark):
    rows = {r["abc"]: r for r in QUERIES["abc_classification_parts"](spark, SF_SMALL).collect()}
    import duckdb

    per = duckdb.sql(
        f"""SELECT l_partkey, CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)
            FROM '{SF_SMALL}/lineitem.parquet' GROUP BY 1"""
    ).fetchall()
    per.sort(key=lambda x: (-x[1], x[0]))
    T = sum(v for _, v in per)
    cum = 0
    want = {"A": [0, 0], "B": [0, 0], "C": [0, 0]}
    for pk, v in per:
        cum += v
        c = "A" if cum * 100 <= T * 80 else ("B" if cum * 100 <= T * 95 else "C")
        want[c][0] += 1
        want[c][1] += v
    for c, (n, rv) in want.items():
        if n == 0:
            assert c not in rows
            continue
        assert rows[c]["n_parts"] == n
        assert abs(float(rows[c]["revenue"]) - rv / 100.0) < 0.05
    assert sum(x[0] for x in want.values()) == len(per)


# ----------------------------------------------------------- paths


def test_top_session_paths_reference(spark):
    import duckdb
    from collections import Counter, defaultdict

    ev = duckdb.sql(
        f"SELECT user_id, epoch_us(ts), event_id, event_type"
        f" FROM '{SF_SMALL}/events.parquet'"
    ).fetchall()
    by_user = defaultdict(list)
    for u, tus, eid, et in ev:
        by_user[u].append((tus, eid, et))
    cnt = Counter()
    for lst in by_user.values():
        lst.sort()
        sessions = []
        cur = []
        prev = None
        for tus, eid, et in lst:
            if prev is not None and tus - prev > 1_800_000_000:
                sessions.append(cur)
                cur = []
            cur.append(et)
            prev = tus
        sessions.append(cur)
        for s in sessions:
            for i in range(len(s) - 2):
                cnt[f"{s[i]}>{s[i+1]}>{s[i+2]}"] += 1
    want = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = [(r["path"], r["n"]) for r in QUERIES["top_session_paths"](spark, SF_SMALL).collect()]
    assert got == want
