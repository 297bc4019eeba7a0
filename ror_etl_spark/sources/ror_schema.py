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

import itertools

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


def required_paths(extra_scalars: list[str] | None = None) -> list[tuple[str, str | None, str]]:
    """Each REQUIRED path as (the name ``RequiredFieldViolation`` reports,
    the array it sits in or None for a top-level scalar, the field path
    inside it), in the order :func:`required_null_flags` lists them."""
    paths: list[tuple[str, str | None, str]] = [
        (f"null:{col}", None, col) for col in REQUIRED_SCALARS + (extra_scalars or [])
    ]
    for arr, fields in REQUIRED_IN_ARRAYS.items():
        paths += [(f"null:{arr}[].{path}", arr, path) for path in fields]
    return paths


def required_null_flags(extra_scalars: list[str] | None = None) -> dict[str, Column]:
    """One boolean per REQUIRED path, true on a row that violates it,
    keyed by the name ``RequiredFieldViolation`` reports. Top-level scalars
    test the column; array elements test ``exists(arr, elem-null)``."""

    def make_pred(p: str):
        # factory keeps the lambda unary (pyspark treats default-arg
        # lambdas as its multi-arg higher-order-function form)
        return lambda elem: _nested(elem, p).isNull()

    flags = {}
    for name, arr, path in required_paths(extra_scalars):
        if arr is None:
            flags[name] = F.col(path).isNull()
        else:
            flags[name] = F.col(arr).isNotNull() & F.exists(F.col(arr), make_pred(path))
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


# --- the same gate, read off one decoded JSON record ---------------------
#
# The fetch walk decodes every record of the dump anyway; these read the
# gate's columns off it by the rules above, so that the Spark scan need
# not parse the feed for them (``sources.fetch``, ``RorPipeline.load_input``).

_REQUIRED = required_paths()


def _compile_gate_check():
    """One Python function, generated from ``ROR_INPUT_SCHEMA``, that
    checks a decoded record's gate columns (``id``, ``relationships`` and
    those holding a REQUIRED path) against the JSON types the schema
    declares, and finds the REQUIRED paths the record leaves null.

    It returns -1 when some value is neither null (Spark reads every
    field as nullable) nor of the declared type: on such a value Spark's
    FAILFAST read either fails (an array that is not a list, a long that
    is not an integer in range, ...) or reads something other than what
    Python decoded (a non-string token becomes its raw text). Otherwise
    it returns a bitmask over ``required_paths()``: bit i is set when the
    record violates path i by ``required_null_flags``'s rule (its array
    holds a null element, or an element whose leaf, or a struct on the
    way to it, is null or missing).

    The check runs on every record of every dump. Straight-line code with
    a loop per array runs about three times faster than the same checks
    as nested closures, so the schema is compiled once, at import."""
    columns = ["id", "relationships"] + [arr or path for _, arr, path in _REQUIRED]
    # field path (from the column) -> bits of the REQUIRED paths that a
    # null there violates
    masks: dict[tuple[str, ...], int] = {}
    for bit, (_, arr, path) in enumerate(_REQUIRED):
        keys = ([arr] if arr else []) + path.split(".")
        for k in range(1, len(keys) + 1):
            masks[tuple(keys[:k])] = masks.get(tuple(keys[:k]), 0) | 1 << bit
    lines = ["def check(record):", "    hits = 0"]
    names = (f"v{i}" for i in itertools.count())

    def emit(var: str, dtype: T.DataType, at: tuple[str, ...], null_mask: int, ind: str):
        if null_mask:
            lines.append(f"{ind}if {var} is None: hits |= {null_mask}")
        if isinstance(dtype, T.StringType):
            lines.append(f"{ind}if {var} is not None and type({var}) is not str: return -1")
        elif isinstance(dtype, T.LongType):
            lines.append(
                f"{ind}if {var} is not None and (type({var}) is not int"
                f" or not {-(1 << 63)} <= {var} < {1 << 63}): return -1"
            )
        elif isinstance(dtype, T.DoubleType):  # also read from an integer token
            lines.append(
                f"{ind}if {var} is not None and type({var}) is not float"
                f" and type({var}) is not int: return -1"
            )
        elif isinstance(dtype, T.StructType):
            lines.append(f"{ind}if {var} is not None:")
            lines.append(f"{ind}    if type({var}) is not dict: return -1")
            for f in dtype.fields:
                field = next(names)
                lines.append(f"{ind}    {field} = {var}.get({f.name!r})")
                emit(field, f.dataType, at + (f.name,), masks.get(at + (f.name,), 0), ind + "    ")
        elif isinstance(dtype, T.ArrayType):
            elem = next(names)
            lines.append(f"{ind}if {var} is not None:")
            lines.append(f"{ind}    if type({var}) is not list: return -1")
            lines.append(f"{ind}    for {elem} in {var}:")
            # a null element violates every REQUIRED path inside it
            emit(elem, dtype.elementType, at, masks.get(at, 0), ind + "        ")
        else:
            raise TypeError(f"no JSON type check for {dtype}")

    for col in dict.fromkeys(columns):
        dtype = ROR_INPUT_SCHEMA[col].dataType
        var = next(names)
        lines.append(f"    {var} = record.get({col!r})")
        # a null array holds no null element: only a scalar's own null counts
        own = 0 if isinstance(dtype, T.ArrayType) else masks.get((col,), 0)
        emit(var, dtype, (col,), own, "    ")
    lines.append("    return hits")
    namespace: dict = {}
    exec("\n".join(lines), namespace)
    return namespace["check"]


_gate_check = _compile_gate_check()


def gate_record(record) -> tuple[str | None, str | None, tuple[int, ...]] | None:
    """What the input gate reads from one decoded feed record: its id, its
    parent and the REQUIRED paths it leaves null (indices into
    ``required_paths()``).

    The parent is the id of the last relationship whose ``type`` is
    ``parent`` in any case, or the record's own id when there is none or
    that id is null: the rule of the Spark gate's parent column
    (``operators.rollup._parent_col``). The null paths follow
    :func:`required_null_flags`'s rule.

    Returns None (the record is not vouched for) unless every column the
    gate reads has the JSON type ``ROR_INPUT_SCHEMA`` declares, so that
    Spark's typed read of them cannot fail and reads exactly these
    values. One case it cannot see: a key repeated inside one object.
    Both readers keep the last value, but Spark also fails on an earlier
    value of the wrong type; such a feed is then rejected by the staging
    write's parse instead of the gate's, with the same error.

    ``sources.fetch`` calls this on each record its walk decodes, and
    keeps no other state per record."""
    hits = _gate_check(record) if type(record) is dict else -1
    if hits < 0:
        return None
    rid = record.get("id")
    parent = None
    for rel in record.get("relationships") or ():
        if rel is not None:
            kind = rel.get("type")
            if kind is not None and kind.lower() == "parent":
                parent = rel.get("id")
    nulls = tuple(i for i in range(len(_REQUIRED)) if hits >> i & 1) if hits else ()
    return rid, rid if parent is None else parent, nulls
