"""Rollup kernel tests — ports the reference's golden fixtures
(tests/test_get_ultimate_parent.py:7-21: chain A→B→C→D plus isolated root
E) and adds the cases the reference handles implicitly (SURVEY §5.2-1):
cycles, multi-parent last-wins, mixed-case types, >200-deep chains,
duplicate ids."""

from __future__ import annotations

import contextlib
import io
import math
import os
import random
import subprocess
import sys

import pyarrow as pa
import pytest

from ror_etl_spark.operators.rollup import (
    DuplicateIdError,
    _one_task_fn,
    assert_unique_ids,
    attach_ultimate_parent,
    extract_parent_edges,
    rollup_on_driver,
    ultimate_parent,
)


def _mapping(result):
    return {r["id"]: r["ultimate_parent"] for r in result.mapping.collect()}


# every kernel-semantics test runs on BOTH physical strategies: the
# distributed pointer-doubling fixpoint (local_threshold=0) and the
# adaptive single-task numpy path any input this small routes to by
# default (see _finish_in_one_task)
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


def test_single_task_keeps_long_ids_exact(spark):
    # a null parent makes the parent column nullable; a pandas batch would
    # carry it as float64 and round ids above 2^53 before resolving them
    base = 1 << 60
    edges = spark.createDataFrame(
        [(base + 1, base + 2), (base + 3, None)], "id long, parent long"
    )
    local = ultimate_parent(edges, local_threshold=1_000_000)
    pinned = ultimate_parent(edges, local_threshold=0)
    assert local.strategy == "single-task"
    assert _mapping(local) == _mapping(pinned) == {base + 1: base + 2, base + 3: None}
    assert local.n_in_cycle == pinned.n_in_cycle == 0


def test_one_task_kernel_runs_without_the_package(tmp_path):
    """The function mapInArrow ships unpickles and runs in a Python that
    cannot import ror_etl_spark: Spark's Python workers find the package
    only if something puts it on their path."""
    from pyspark import cloudpickle

    (tmp_path / "fn.pkl").write_bytes(cloudpickle.dumps(_one_task_fn(8)))
    script = """
import importlib.util, pickle, sys
import pyarrow as pa
assert importlib.util.find_spec("ror_etl_spark") is None, sys.path
with open("fn.pkl", "rb") as f:
    fn = pickle.load(f)
batch = pa.record_batch({
    "id": ["A", "B", "C", "X", "Y"],
    "anc": ["B", "C", "C", "Y", "X"],
    "in_cycle": pa.array([None, None, False, None, None], pa.bool_()),
})
[out] = fn(iter([batch]))
assert "ror_etl_spark" not in sys.modules
print(out.to_pydict())
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    run = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env, capture_output=True, text=True
    )
    assert run.returncode == 0, run.stderr
    # X and Y form a 2-cycle: after 8 rounds each is back on itself
    assert eval(run.stdout) == {
        "id": ["A", "B", "C", "X", "Y"],
        "anc": ["C", "C", "C", "X", "Y"],
        "in_cycle": [False, False, False, True, True],
    }


@pytest.mark.parametrize("seed", range(4))
def test_rollup_on_driver_matches_the_executor_task(spark, tmp_path, seed):
    """The driver route runs the executor task's kernel on the same
    edges: same mapping, same n_in_cycle, same round count."""
    rows = _fuzz_edges(seed, long_ids=False)
    edges = spark.createDataFrame(rows, "id string, parent string")
    task = ultimate_parent(edges, local_threshold=1_000_000)
    ids, parents = zip(*rows)
    driver = rollup_on_driver(
        spark,
        pa.table({"id": pa.array(ids), "anc": pa.array(parents, pa.string())}),
        str(tmp_path / "mapping.parquet"),
    )
    assert (driver.strategy, driver.iterations) == (task.strategy, task.iterations)
    assert _mapping(driver) == _mapping(task)
    assert driver.n_in_cycle == task.n_in_cycle


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
    out = attach_ultimate_parent(ror, ultimate_parent(edges))
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


# --- the one-task finish of the doubling route ------------------------------
#
# Above local_threshold the doubling rounds run distributed until a check
# finds that twice the rows still moving fit one task; the remaining rounds
# then run in that task. The parity tests below compare it with the pinned
# distributed loop (local_threshold=0) on the same input.


def _changed_per_round(edges, rounds):
    """The pinned loop's ``changed`` count after each doubling round,
    replayed in Python: a row's ancestor steps to its ancestor's ancestor
    when that is an id with a non-null ancestor (the left join's
    coalesce)."""
    anc = dict(edges)
    changed = []
    for _ in range(rounds):
        prev = anc
        anc = {
            i: prev[a] if a in prev and prev[a] is not None else a
            for i, a in prev.items()
        }
        changed.append(sum(anc[i] != prev[i] for i in anc))
    return changed


def _switch_round(edges, rounds, check_every, local_threshold):
    """The check round at which the one-task finish takes over, or None."""
    for r, c in enumerate(_changed_per_round(edges, rounds), start=1):
        if (r % check_every == 0 or r == rounds) and 0 < 2 * c <= local_threshold:
            return r
    return None


def _fuzz_edges(seed, long_ids):
    """A seeded forest of 30-400 ids: a 2-cycle (it collapses to self-maps
    after one round), a 3-cycle (it never settles, so the pinned loop
    spends its whole budget), a chain 9-24 deep that is still moving at
    the checks of rounds 1-3 and ends at a root, a null parent, a missing
    parent or a cycle, and the rest roots, null parents, missing parents
    and trees under any earlier row."""
    rng = random.Random(seed)
    n = rng.randint(30, 400)
    parent = {0: 1, 1: 0, 2: 3, 3: 4, 4: 2}
    depth = rng.randint(9, min(24, n - 6))
    for i in range(5, 5 + depth):
        parent[i] = i + 1
    end = 5 + depth
    parent[end] = rng.choice([end, None, n, 0, 2])
    for i in range(end + 1, n):
        u = rng.random()
        if u < 0.3:
            parent[i] = i
        elif u < 0.35:
            parent[i] = None
        elif u < 0.4:
            parent[i] = n + rng.randrange(3)  # not an id
        else:
            parent[i] = rng.randrange(i)
    if long_ids:
        name = lambda i: None if i is None else 1000 + i  # noqa: E731
    else:
        name = lambda i: None if i is None else f"https://ror.org/{i:05d}"  # noqa: E731
    rows = [(name(i), name(p)) for i, p in parent.items()]
    rng.shuffle(rows)
    return rows


def _tail_and_pinned(spark, rows, id_type, check_every, max_depth=200):
    """Run the rollup with local_threshold just below the row count and
    pinned; assert the one-task finish took over with rounds left and gave
    the pinned loop's mapping (schema included) and n_in_cycle."""
    rounds = math.ceil(math.log2(max_depth))
    lt = len(rows) - 1
    switch = _switch_round(rows, rounds, check_every, lt)
    assert switch is not None and switch < rounds, (switch, rounds)
    edges = spark.createDataFrame(rows, f"id {id_type}, parent {id_type}")
    pinned = ultimate_parent(edges, max_depth, check_every, local_threshold=0)
    tail = ultimate_parent(edges, max_depth, check_every, local_threshold=lt)
    assert tail.strategy == pinned.strategy == "doubling"
    assert tail.mapping.schema == pinned.mapping.schema
    assert _mapping(tail) == _mapping(pinned)
    assert tail.n_in_cycle == pinned.n_in_cycle
    assert tail.iterations == rounds
    return tail, pinned


@pytest.mark.parametrize("check_every", [1, 2, 3])
@pytest.mark.parametrize("id_type", ["string", "long"])
def test_one_task_finish_matches_pinned_loop(spark, id_type, check_every):
    for seed in range(3):
        rows = _fuzz_edges(100 * check_every + seed, id_type == "long")
        tail, pinned = _tail_and_pinned(spark, rows, id_type, check_every)
        # the 3-cycle never settles, so the pinned loop runs its whole
        # budget too
        assert tail.iterations == pinned.iterations


def test_one_task_finish_through_null_parent(spark):
    # c4 is still moving after round 1 and points at A, whose parent is
    # null: the task must stop the chain at A (pd.factorize codes the null
    # as -1, which numpy would read as the last node) and leave A null.
    rows = [(f"c{i}", f"c{i + 1}") for i in range(5)] + [("c5", "A"), ("A", None)]
    rows += [(f"r{i}", f"r{i}") for i in range(10)]
    tail, pinned = _tail_and_pinned(spark, rows, "string", check_every=1)
    m = _mapping(tail)
    assert m["A"] is None and all(m[f"c{i}"] == "A" for i in range(6))
    assert tail.n_in_cycle == 6
    # nothing here cycles: the pinned loop stops at the first check that
    # reads no change, while the one task runs out its rounds unchecked
    # and reports the whole budget, as the single-task route does
    assert (pinned.iterations, tail.iterations) == (4, 8)


def test_one_task_finish_counts_collapsed_two_cycle(spark):
    # X⇄Y resolves to X→X, Y→Y after one round and stops moving, yet both
    # are in a cycle: the rows still moving at the end (the 3-cycle and
    # the chain under Y) are not the n_in_cycle set.
    rows = [("X", "Y"), ("Y", "X"), ("P", "Q"), ("Q", "R"), ("R", "P")]
    rows += [(f"d{i}", f"d{i + 1}") for i in range(5)] + [("d5", "Y")]
    rows += [(f"r{i}", f"r{i}") for i in range(20)]
    tail, _ = _tail_and_pinned(spark, rows, "string", check_every=2)
    m = _mapping(tail)
    assert (m["X"], m["Y"]) == ("X", "Y")
    assert tail.n_in_cycle == 11


def test_one_task_finish_never_sees_duplicate_ids(spark):
    # the routing job's counts raise the driver-side error before any
    # round, so no one-task finish ever runs on duplicate ids
    rows = [(f"c{i}", f"c{i + 1}") for i in range(20)] + [("c20", "c20"), ("c3", "c3")]
    edges = spark.createDataFrame(rows, "id string, parent string")
    with pytest.raises(DuplicateIdError, match="c3"):
        ultimate_parent(edges, check_every=2, local_threshold=len(rows) - 1)


def _jobs(spark, name, fn):
    """Spark jobs that ``fn()`` runs, and its result."""
    sc = spark.sparkContext
    group = f"rollup-{name}-{os.getpid()}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_one_task_finish_job_count(spark):
    """2k rows over local_threshold 1k: the moving rows fit at the first
    check (after round 2), so the call and the mapping's first read run
    in a fixed handful of jobs, not one shuffle round per doubling round,
    and n_in_cycle is one sum over the final checkpoint."""
    rng = random.Random(7)
    n = 2000
    parent = {i: i for i in range(0, n, 3)}  # roots
    parent.update({i: rng.randrange(0, n, 3) for i in range(1, n, 3)})
    parent.update({i: i - 1 for i in range(2, n, 3)})  # depth 2
    parent.update({0: 3, 3: 6, 6: 0})  # a 3-cycle: the budget runs out
    rows = [(f"o{i}", f"o{p}") for i, p in parent.items()]
    assert _switch_round(rows, 8, 2, 1000) == 2
    edges = spark.createDataFrame(rows, "id string, parent string")
    jobs, res = _jobs(
        spark, "call", lambda: ultimate_parent(edges, check_every=2, local_threshold=1000)
    )
    read_jobs, _ = _jobs(spark, "read", lambda: res.mapping.collect())
    cycle_jobs, n_in_cycle = _jobs(spark, "n_in_cycle", lambda: res.n_in_cycle)
    assert (res.strategy, res.iterations) == ("doubling", 8)
    def under_cycle(i):
        while parent[i] != i:
            if i in (0, 3, 6):
                return True
            i = parent[i]
        return False

    assert n_in_cycle == sum(map(under_cycle, parent))
    # measured 14 + 1: the routing count, two rounds and their check, the
    # one-task finish; the pinned loop needs 37 + 2, and 9 for n_in_cycle
    assert jobs + read_jobs <= 15, (jobs, read_jobs)
    assert cycle_jobs <= 2, cycle_jobs


def _plan(df):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.mark.parametrize(
    "lt, broadcast", [(0, False), (10**6, True)], ids=["doubling", "single-task"]
)
def test_attach_broadcasts_only_a_single_task_mapping(spark, lt, broadcast):
    # a doubling-route mapping holds every id, past what a broadcast can
    # carry at scale: with size-based broadcasts off the planner must not
    # get one forced; a single-task mapping (≤ local_threshold rows) keeps
    # its broadcast hint
    ror = spark.createDataFrame(
        [("A", [("B", "l", "parent")]), ("B", [])], ROR_SCHEMA
    )
    res = ultimate_parent(extract_parent_edges(ror), local_threshold=lt)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        plan = _plan(attach_ultimate_parent(ror, res))
    finally:
        spark.conf.set(key, old)
    assert ("BroadcastHashJoin" in plan) == broadcast, plan
    assert ("BroadcastExchange" in plan) == broadcast, plan
