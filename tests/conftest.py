from __future__ import annotations

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ror_etl_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s


SF_SMALL = "/root/testdata/sf0.001"


def module_queries(module: str) -> dict:
    """name -> (fn, oracle) for every query ``ror_etl_spark.queries.<module>``
    registers, in registration order. Read from the registry after
    ``load_all()``, so a test module that collects these never changes the
    registration order by importing a query module first."""
    from ror_etl_spark import registry

    registry.load_all()
    mod = f"ror_etl_spark.queries.{module}"
    return {
        name: (fn, registry.ORACLES.get(name))
        for name, fn in registry.QUERIES.items()
        if fn.__module__ == mod
    }


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.10g}"
    return repr(v)


def _key(pdf):
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = sorted(
        tuple(_norm_cell(v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    )
    return cols, rows


@pytest.fixture(scope="module")
def con():
    """DuckDB connection with every testdata table as a view on SF_SMALL."""
    import duckdb

    from ror_etl_spark.tables import TABLE_NAMES

    c = duckdb.connect()
    for t in TABLE_NAMES:
        c.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{os.path.join(SF_SMALL, t + '.parquet')}'"
        )
    return c


def assert_matches_oracle(spark, con, name: str, fn, oracle: str | None) -> None:
    """The driver gate's Spark-vs-DuckDB comparison: same columns, same
    dtypes (as tools/check.py — value normalization alone hides
    int32-vs-int64 drift), and the same rows order-insensitively."""
    assert oracle, f"query {name} must carry an oracle"
    sdf = fn(spark, SF_SMALL).toPandas()
    odf = con.execute(oracle).df()
    got_cols, got_rows = _key(sdf)
    want_cols, want_rows = _key(odf)
    assert got_cols == want_cols
    dt_mismatch = [
        (c, str(sdf[c].dtype), str(odf[c].dtype))
        for c in got_cols
        if str(sdf[c].dtype) != str(odf[c].dtype)
    ]
    assert not dt_mismatch, f"dtype mismatch {dt_mismatch}"
    assert len(got_rows) == len(want_rows)
    assert got_rows == want_rows
