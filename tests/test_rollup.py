"""Rollup kernel tests — ports the reference's golden fixtures
(tests/test_get_ultimate_parent.py:7-21: chain A→B→C→D plus isolated root
E) and adds the cases the reference handles implicitly (SURVEY §5.2-1):
cycles, multi-parent last-wins, mixed-case types, >200-deep chains,
duplicate ids."""

from __future__ import annotations

import pytest

from ror_etl_spark.operators.rollup import (
    DuplicateIdError,
    assert_unique_ids,
    attach_ultimate_parent,
    extract_parent_edges,
    ultimate_parent,
)


def _mapping(result):
    return {r["id"]: r["ultimate_parent"] for r in result.mapping.collect()}


# every kernel-semantics test runs on BOTH physical strategies: the
# distributed pointer-doubling fixpoint (local_threshold=0) and the
# adaptive single-task numpy path any input this small routes to by
# default (see _ultimate_parent_single_task)
BOTH_PATHS = pytest.mark.parametrize(
    "lt", [0, 1_000_000], ids=["distributed", "single-task"]
)


@BOTH_PATHS
def test_reference_golden_chain(spark, lt):
    # A→B→C→D(root), E(root)  — expected {A:D, B:D, C:D, D:D, E:E}
    edges = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("C", "D"), ("D", "D"), ("E", "E")],
        "id string, parent string",
    )
    res = ultimate_parent(edges, local_threshold=lt)
    assert _mapping(res) == {"A": "D", "B": "D", "C": "D", "D": "D", "E": "E"}
    assert res.n_in_cycle == 0


@BOTH_PATHS
def test_two_cycle_terminates_without_failing(spark, lt):
    # X→Y→X: reference alerts and returns an arbitrary in-cycle node
    edges = spark.createDataFrame(
        [("X", "Y"), ("Y", "X"), ("Z", "Z")], "id string, parent string"
    )
    res = ultimate_parent(edges, local_threshold=lt)
    m = _mapping(res)
    assert m["Z"] == "Z"
    assert m["X"] in {"X", "Y"} and m["Y"] in {"X", "Y"}


@BOTH_PATHS
def test_three_cycle_terminates(spark, lt):
    edges = spark.createDataFrame(
        [("X", "Y"), ("Y", "Z"), ("Z", "X")], "id string, parent string"
    )
    res = ultimate_parent(edges, local_threshold=lt)
    m = _mapping(res)
    assert set(m) == {"X", "Y", "Z"}
    assert all(v in {"X", "Y", "Z"} for v in m.values())
    # cycles never converge under pointer doubling — the alert signal fires
    assert res.n_in_cycle > 0


@BOTH_PATHS
def test_deep_chain_beyond_reference_recursion_cap(spark, lt):
    # 250-deep chain: the reference's recursive walk would blow its
    # depth-200 cap and fall back; pointer doubling resolves it exactly.
    n = 250
    rows = [(f"c{i}", f"c{i+1}") for i in range(n)] + [(f"c{n}", f"c{n}")]
    edges = spark.createDataFrame(rows, "id string, parent string")
    res = ultimate_parent(edges, max_depth=256, local_threshold=lt)
    m = _mapping(res)
    assert m["c0"] == f"c{n}"
    assert m[f"c{n}"] == f"c{n}"
    assert res.n_in_cycle == 0


@BOTH_PATHS
def test_missing_parent_is_terminal(spark, lt):
    # parent not present as an id: chain ends there (more permissive than
    # the reference's KeyError on dirty data)
    edges = spark.createDataFrame([("A", "GHOST")], "id string, parent string")
    assert _mapping(ultimate_parent(edges, local_threshold=lt)) == {"A": "GHOST"}


@BOTH_PATHS
def test_null_parent_matches_distributed_semantics(spark, lt):
    # dirty data reaching the public operator directly (the pipeline's
    # extract_parent_edges coalesces nulls away): a null-parent node
    # resolves to null — a null anc joins nothing in the distributed
    # left-join — while a chain running THROUGH it stops at the node.
    # Regression for the single-task path, where pd.factorize codes null
    # as -1 and unguarded numpy indexing resolved (A, null) to an
    # arbitrary unrelated node instead of null.
    edges = spark.createDataFrame(
        [("A", None), ("B", "A"), ("C", "B"), ("D", "D")],
        "id string, parent string",
    )
    res = ultimate_parent(edges, local_threshold=lt)
    assert _mapping(res) == {"A": None, "B": "A", "C": "A", "D": "D"}
    # B and C resolve to A, whose own parent is null: not a root. A itself
    # resolves to null, which no edge matches, so it is not counted.
    assert res.n_in_cycle == 2


ROR_SCHEMA = (
    "id string, relationships array<struct<id:string,label:string,type:string>>"
)


def test_extract_edges_last_parent_wins_case_insensitive(spark):
    rows = [
        # two parent rels (one uppercase) — LAST one wins
        ("A", [("P1", "l", "Parent"), ("X", "l", "child"), ("P2", "l", "PARENT")]),
        # only non-parent rels → self
        ("B", [("Y", "l", "related")]),
        # empty / null relationship list → self
        ("C", []),
        ("D", None),
        # null type must not match and must not crash
        ("E", [(None, "l", None), ("P3", "l", "parent")]),
    ]
    df = spark.createDataFrame(rows, ROR_SCHEMA)
    edges = {r["id"]: r["parent"] for r in extract_parent_edges(df).collect()}
    assert edges == {"A": "P2", "B": "B", "C": "C", "D": "D", "E": "P3"}


def test_duplicate_ids_hard_fail(spark):
    df = spark.createDataFrame([("A",), ("A",), ("B",)], "id string")
    with pytest.raises(DuplicateIdError, match="A"):
        assert_unique_ids(df)
    assert_unique_ids(spark.createDataFrame([("A",), ("B",)], "id string"))


def test_attach_ultimate_parent_required_nonnull(spark):
    ror = spark.createDataFrame(
        [("A", [("B", "l", "parent")]), ("B", []), ("ORPHAN", [])], ROR_SCHEMA
    )
    edges = extract_parent_edges(ror)
    mapping = ultimate_parent(edges).mapping
    out = attach_ultimate_parent(ror, mapping)
    vals = {r["id"]: r["ultimate_parent"] for r in out.collect()}
    assert vals == {"A": "B", "B": "B", "ORPHAN": "ORPHAN"}
    # REQUIRED column semantics: never null (schemas/ror.json:215-220)
    assert all(v is not None for v in vals.values())


def test_end_to_end_pipeline_shape(spark):
    """Full G1 flow on a forest with two trees and an isolated root."""
    rows = [
        ("r1", []),
        ("a1", [("r1", "l", "parent")]),
        ("a2", [("a1", "l", "parent")]),
        ("r2", []),
        ("b1", [("r2", "l", "parent")]),
        ("solo", []),
    ]
    ror = spark.createDataFrame(rows, ROR_SCHEMA)
    assert_unique_ids(ror)
    res = ultimate_parent(extract_parent_edges(ror))
    assert _mapping(res) == {
        "r1": "r1",
        "a1": "r1",
        "a2": "r1",
        "r2": "r2",
        "b1": "r2",
        "solo": "solo",
    }


@BOTH_PATHS
def test_duplicate_ids_in_fixpoint_fail_fast(spark, lt):
    # the raw operator (without the pipeline's pre-gate) must detect the
    # duplicate-id join explosion instead of hanging: B is duplicated AND
    # pointed through by A, so A fans out on the first hop join. Both
    # strategies raise DuplicateIdError — the distributed loop via the
    # growth guard ("grew"), the single-task path via its direct
    # duplicated() probe.
    edges = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("B", "C"), ("C", "C")], "id string, parent string"
    )
    with pytest.raises(DuplicateIdError, match="grew|Duplicate"):
        ultimate_parent(edges, local_threshold=lt).mapping.collect()


def test_strategies_produce_identical_mappings(spark):
    """Row-identical output across the two physical strategies on every
    semantic shape at once — chains, a 2-cycle (collapses to stable
    self-maps), a 3-cycle (rotates forever), a terminal ghost parent, an
    isolated root. Cycle results are deterministic-but-arbitrary, so
    byte-equality here is the proof the single-task path replays the
    exact doubling recurrence rather than merely 'some' resolution."""
    rows = (
        [(f"c{i}", f"c{i+1}") for i in range(40)]
        + [("c40", "c40"), ("X", "Y"), ("Y", "X"), ("P", "Q"), ("Q", "R"),
           ("R", "P"), ("A", "GHOST"), ("lone", "lone")]
    )
    edges = spark.createDataFrame(rows, "id string, parent string")
    dist = ultimate_parent(edges, max_depth=64, local_threshold=0)
    local = ultimate_parent(edges, max_depth=64, local_threshold=10**6)
    assert (dist.strategy, local.strategy) == ("doubling", "single-task")
    assert _mapping(dist) == _mapping(local)
    # the kernel's per-id flags count what the doubling path's joins count:
    # the 2-cycle and the 3-cycle, not the chain or the ghost terminal
    assert dist.n_in_cycle == local.n_in_cycle == 5


def test_small_input_routes_to_single_task(spark):
    """The adaptive default routes a registry-sized input to the
    single-task strategy and local_threshold=0 pins the distributed
    fixpoint (the lazy localCheckpoint boundary hides plan internals, so
    the routing decision is asserted via RollupResult.strategy)."""
    edges = spark.createDataFrame(
        [("A", "B"), ("B", "B")], "id string, parent string"
    )
    adaptive = ultimate_parent(edges)
    assert adaptive.strategy == "single-task"
    assert _mapping(adaptive) == {"A": "B", "B": "B"}
    pinned = ultimate_parent(edges, local_threshold=0)
    assert pinned.strategy == "doubling"
