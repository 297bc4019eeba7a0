"""Salted skew join equivalence (`operators/skew.py`)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ror_etl_spark.operators.skew import salted_join
from ror_etl_spark.tables import Tables
from tests.conftest import SF_SMALL


def test_salted_join_matches_plain_join(spark):
    t = Tables(spark, SF_SMALL)
    fact = t.orders.select("o_orderkey", "o_custkey", "o_totalprice")
    dim = t.customer.select("c_custkey", "c_mktsegment")
    plain = fact.join(dim, F.col("o_custkey") == F.col("c_custkey"))
    salted = salted_join(fact, dim, "o_custkey", "c_custkey", n_salts=4)
    assert salted.count() == plain.count()
    a = {tuple(r) for r in plain.select("o_orderkey", "c_mktsegment").collect()}
    b = {tuple(r) for r in salted.select("o_orderkey", "c_mktsegment").collect()}
    assert a == b
