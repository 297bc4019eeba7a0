"""Oracle checks for the statistics, graph and sketch operators in
queries/staged_r9.py — the same Spark-vs-DuckDB comparison the driver
gate runs, plus independent invariants beyond the oracle.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL, assert_matches_oracle, module_queries

REGISTERED = module_queries("staged_r9")


@pytest.mark.parametrize("name", sorted(REGISTERED))
def test_staged_query_matches_oracle(spark, con, name):
    fn, oracle = REGISTERED[name]
    assert_matches_oracle(spark, con, name, fn, oracle)


def test_depth_layers_match_closed_form(spark):
    """Independent pin beyond the oracle: every chain of 10 must emit
    layers 0..9 exactly once per root."""
    from pyspark.sql import functions as F

    from ror_etl_spark.queries.staged_r9 import hierarchy_depth_layers

    df = hierarchy_depth_layers(spark, SF_SMALL)
    bad = df.filter(F.col("layer") != (F.col("id") - 1) % 10).count()
    assert bad == 0


def test_lpa_labels_are_reachable_nodes(spark):
    """A node's community label must be a node id (labels only ever
    propagate, never invent values)."""
    from ror_etl_spark.queries.staged_r9 import label_propagation_communities

    rows = label_propagation_communities(spark, SF_SMALL).collect()
    ids = {r["nationkey"] for r in rows}
    assert all(r["community"] in ids for r in rows)
    # propagation happened: at least one node adopted a neighbour's label
    assert any(r["community"] != r["nationkey"] for r in rows)


def test_hll_intersection_sketch_laws(spark):
    """Inclusion-exclusion sanity independent of the oracle: the union
    estimate never exceeds the sum of the parts (register max-merge can
    only lower the indicator sum... i.e. raise the union estimate, but
    never past est_a + est_b), and all estimates are positive."""
    from ror_etl_spark.queries.staged_r9 import hll_intersection_click_purchase

    r = hll_intersection_click_purchase(spark, SF_SMALL).collect()[0]
    assert r["est_a"] > 0 and r["est_b"] > 0
    assert r["est_union"] <= r["est_a"] + r["est_b"] + 1e-6
    assert r["est_union"] >= max(r["est_a"], r["est_b"]) - 1e-6


def test_theil_sen_kernel_matches_jvm_percentile(spark):
    """The bounded Arrow kernel (r12 optimization round) must reproduce
    the JVM ``percentile(slope, 0.5)`` aggregate it replaced bit-for-bit
    — same pairwise slopes, same (hi-pos)·lo + (pos-lo)·hi interpolation
    — on both parities of the pair count (even: 4 days -> 6 pairs; odd:
    5 days -> 10 pairs is even too, so use 3 days -> 3 pairs)."""
    from pyspark.sql import functions as F

    from ror_etl_spark.queries.staged_r9 import _theil_sen_median_udf

    med = _theil_sen_median_udf()
    for days in [
        [(10, 5.0), (11, 9.5), (13, 2.25), (20, 7.125)],  # 6 pairs (even)
        [(1, 3.0), (4, -2.5), (6, 11.0)],  # 3 pairs (odd)
    ]:
        daily = spark.createDataFrame(days, "day_idx: long, rev: double")
        got = (
            daily.agg(F.collect_list(F.struct("day_idx", "rev")).alias("ds"))
            .select(F.element_at(med(F.col("ds")), 1).alias("m"))
            .select("m.slope", "m.n_pairs")
            .collect()[0]
        )
        a, b = daily.alias("a"), daily.alias("b")
        slopes = a.join(b, F.col("b.day_idx") > F.col("a.day_idx")).select(
            (
                (F.col("b.rev") - F.col("a.rev"))
                / (F.col("b.day_idx") - F.col("a.day_idx"))
            ).alias("slope")
        )
        want = slopes.agg(
            F.expr("percentile(slope, 0.5)").alias("m"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        assert got["n_pairs"] == want["n"]
        assert got["slope"] == want["m"]  # exact, no epsilon
