"""Spark schema for the ROR organization table.

Hand translation of the reference's BigQuery load schema
(/root/reference/schemas/ror.json:1-221) per the SURVEY §1.2 type mapping:
STRING→string, INTEGER→long, FLOAT→double, DATE→date, RECORD→struct,
REPEATED→array. BigQuery enforces REQUIRED fields at load time
(ror_dag.py:170 passes the schema to GCSToBigQueryOperator); Spark's JSON
reader does not reject nulls in non-nullable fields, so REQUIRED paths are
listed separately and enforced by ``validate_required`` — same
reject-the-load semantics, expressed as a distributed null-scan.

Column descriptions ride in StructField metadata (the reference propagates
them post-load via update_table_descriptions, ror_dag.py:203-213).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _s(name: str, dtype: T.DataType, nullable: bool = True, comment: str | None = None):
    meta = {"comment": comment} if comment else {}
    return T.StructField(name, dtype, nullable, metadata=meta)


ROR_INPUT_SCHEMA = T.StructType(
    [
        _s("id", T.StringType(), comment="ROR identifier URL"),
        _s("status", T.StringType()),
        _s("types", T.ArrayType(T.StringType())),
        _s("established", T.LongType()),
        _s("domains", T.ArrayType(T.StringType())),
        _s(
            "names",
            T.ArrayType(
                T.StructType(
                    [
                        _s("value", T.StringType(), nullable=False),
                        _s("types", T.ArrayType(T.StringType())),
                        _s("lang", T.StringType()),
                    ]
                )
            ),
        ),
        _s(
            "links",
            T.ArrayType(
                T.StructType(
                    [
                        _s("type", T.StringType(), nullable=False),
                        _s("value", T.StringType(), nullable=False),
                    ]
                )
            ),
        ),
        _s(
            "admin",
            T.StructType(
                [
                    _s(
                        "created",
                        T.StructType(
                            [_s("date", T.DateType()), _s("schema_version", T.StringType())]
                        ),
                    ),
                    _s(
                        "last_modified",
                        T.StructType(
                            [_s("date", T.DateType()), _s("schema_version", T.StringType())]
                        ),
                    ),
                ]
            ),
        ),
        _s(
            "locations",
            T.ArrayType(
                T.StructType(
                    [
                        _s("geonames_id", T.LongType(), nullable=False),
                        _s(
                            "geonames_details",
                            T.StructType(
                                [
                                    _s("continent_code", T.StringType()),
                                    _s("continent_name", T.StringType()),
                                    _s("country_name", T.StringType()),
                                    _s("country_code", T.StringType()),
                                    _s("country_subdivision_code", T.StringType()),
                                    _s("country_subdivision_name", T.StringType()),
                                    _s("lat", T.DoubleType()),
                                    _s("lng", T.DoubleType()),
                                    _s("name", T.StringType(), nullable=False),
                                ]
                            ),
                            nullable=False,
                        ),
                    ]
                )
            ),
        ),
        _s(
            "relationships",
            T.ArrayType(
                T.StructType(
                    [
                        _s("id", T.StringType()),
                        _s("label", T.StringType()),
                        _s("type", T.StringType()),
                    ]
                )
            ),
        ),
        _s(
            "external_ids",
            T.ArrayType(
                T.StructType(
                    [
                        _s("type", T.StringType(), nullable=False),
                        _s("all", T.ArrayType(T.StringType())),
                        _s("preferred", T.StringType()),
                    ]
                )
            ),
        ),
    ]
)

ROR_OUTPUT_SCHEMA = T.StructType(
    ROR_INPUT_SCHEMA.fields
    + [
        _s(
            "ultimate_parent",
            T.StringType(),
            nullable=False,
            comment=(
                "Derived by the engine through recursive traversal of "
                "relationships (reference: schemas/ror.json:215-220)"
            ),
        )
    ]
)

# REQUIRED paths of the INPUT schema (mode=REQUIRED in schemas/ror.json).
# Top-level scalar requirements are checked directly; array-element
# requirements are checked with exists(arr, elem-null predicate).
REQUIRED_SCALARS: list[str] = []  # no top-level REQUIRED scalars pre-derivation
REQUIRED_IN_ARRAYS: dict[str, list[str]] = {
    "names": ["value"],
    "links": ["type", "value"],
    "locations": ["geonames_id", "geonames_details", "geonames_details.name"],
    "external_ids": ["type"],
}

TABLE_DESCRIPTION = {"ror": "https://ror.org"}  # table_descriptions.json:1-3


class RequiredFieldViolation(ValueError):
    pass


def _nested(elem, path: str):
    cur = elem
    for part in path.split("."):
        cur = cur[part]
    return cur


def required_null_flags(extra_scalars: list[str] | None = None) -> dict[str, Column]:
    """One boolean per REQUIRED path, true on a row that violates it,
    keyed by the name ``RequiredFieldViolation`` reports. Top-level scalars
    test the column; array elements test ``exists(arr, elem-null)``."""
    flags = {}
    for col in REQUIRED_SCALARS + (extra_scalars or []):
        flags[f"null:{col}"] = F.col(col).isNull()

    def make_pred(p: str):
        # factory keeps the lambda unary (pyspark treats default-arg
        # lambdas as its multi-arg higher-order-function form)
        return lambda elem: _nested(elem, p).isNull()

    for arr, paths in REQUIRED_IN_ARRAYS.items():
        for path in paths:
            flags[f"null:{arr}[].{path}"] = F.col(arr).isNotNull() & F.exists(
                F.col(arr), make_pred(path)
            )
    return flags


def raise_required_nulls(null_counts: dict[str, int | None]) -> None:
    """Raise ``RequiredFieldViolation`` naming every path with a nonzero
    count (sums of :func:`required_null_flags`)."""
    bad = {k: v for k, v in null_counts.items() if v}
    if bad:
        raise RequiredFieldViolation(f"REQUIRED fields with nulls: {bad}")


def validate_required(df: DataFrame, extra_scalars: list[str] | None = None) -> None:
    """Reject the load when any REQUIRED path is null — the BigQuery
    load-time behavior (SURVEY §4.2), done as one aggregate pass."""
    flags = required_null_flags(extra_scalars)
    row = df.agg(
        *[F.sum(F.when(flag, 1).otherwise(0)).alias(k) for k, flag in flags.items()]
    ).collect()[0]
    raise_required_nulls(row.asDict())
