"""Tests of the benchmark itself (no Spark session needed):

    python3 -m pytest perfbench -q -p no:cacheprovider

- inputs are a function of the seed alone;
- every output check fails on a one-row corruption, so none can pass
  vacuously;
- the bad-week schedule produces all three rejection kinds;
- the rollup input is routed past the single-task threshold.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import replay  # noqa: E402
import workloads  # noqa: E402


def _digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _write_pairs(path: str, pairs: dict[str, str]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"id": list(pairs), "ultimate_parent": list(pairs.values())}), path
    )


def _chase(parent: dict[str, str], node: str, hops: int = 2 ** replay.ROUNDS) -> str:
    """Naive one-hop-at-a-time walk: the replay's doubling must agree."""
    for _ in range(hops):
        node = parent.get(node, node)
    return node


# --- same seed, same bytes ------------------------------------------------


def test_registry_dump_is_a_function_of_the_seed(tmp_path):
    digests = []
    for name in ("a.zip", "b.zip"):
        recs = gen.registry_records(7, 2000)
        gen.write_dump_zip(str(tmp_path / name), gen.record_lines(recs))
        digests.append(_digest(str(tmp_path / name)))
    assert digests[0] == digests[1]
    other = tmp_path / "c.zip"
    gen.write_dump_zip(str(other), gen.record_lines(gen.registry_records(8, 2000)))
    assert _digest(str(other)) != digests[0]


def test_rollup_edges_are_a_function_of_the_seed(tmp_path):
    paths = [str(tmp_path / f"{k}.parquet") for k in "ab"]
    for p in paths:
        gen.write_edges_parquet(p, *gen.rollup_edges(7, 20_000))
    assert _digest(paths[0]) == _digest(paths[1])
    ids, _ = gen.rollup_edges(7, 20_000)
    assert len(set(ids.tolist())) == len(ids)


# --- the replays agree with a naive walk, and the checks bite -------------


def test_registry_replay_last_case_insensitive_parent_wins():
    records = [
        {"id": "a", "relationships": [
            {"id": "x", "type": "PARENT"}, {"id": "b", "type": "Parent"},
            {"id": "z", "type": "related"}]},
        {"id": "b", "relationships": [{"id": "c", "type": "parent"}]},
        {"id": "c", "relationships": [{"id": "a", "type": "child"}]},
        {"id": "x", "relationships": []},
    ]
    assert replay.expected_registry(records) == {"a": "c", "b": "c", "c": "c", "x": "x"}


def test_doubling_replay_matches_a_naive_walk():
    ids, parents = gen.rollup_edges(3, 20_000)
    ids, parents = ids.astype(str).tolist(), parents.astype(str).tolist()
    up, n_in_cycle = replay.doubling(np.array(ids), np.array(parents))
    parent = dict(zip(ids, parents))
    naive = {i: _chase(parent, i) for i in ids}
    assert dict(zip(ids, up.tolist())) == naive
    # the deep chain is deeper than the reference's cap of 200 and still
    # resolves to a root, which is its own parent
    deepest = max(ids, key=lambda i: _depth(parent, i))
    assert _depth(parent, deepest) == gen.DEEP_CHAIN
    assert parent[naive[deepest]] == naive[deepest]
    # members of 3-cycles never resolve to a root
    assert n_in_cycle >= 3 * (20_000 // 10_000)
    assert n_in_cycle == sum(parent[naive[i]] != naive[i] for i in ids)


def _depth(parent: dict[str, str], node: str) -> int:
    """Hops to a root; -1 inside a cycle."""
    for hops in range(2 ** replay.ROUNDS):
        if parent[node] == node:
            return hops
        node = parent[node]
    return -1


def test_mapping_check_fails_on_one_row_corruption(tmp_path):
    expected = {f"id{i}": f"id{i % 7}" for i in range(50)}
    good = str(tmp_path / "good.parquet")
    _write_pairs(good, expected)
    cols = ("id", "ultimate_parent")
    assert replay.mapping_matches(good, cols, expected)

    wrong = dict(expected, id12="id3")
    _write_pairs(str(tmp_path / "wrong.parquet"), wrong)
    assert not replay.mapping_matches(str(tmp_path / "wrong.parquet"), cols, expected)

    missing = dict(expected)
    missing.pop("id40")
    _write_pairs(str(tmp_path / "missing.parquet"), missing)
    assert not replay.mapping_matches(str(tmp_path / "missing.parquet"), cols, expected)


def test_tree_digest_fails_on_one_byte_change(tmp_path):
    d = tmp_path / "prod"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"abcdef")
    (d / "_SUCCESS").write_bytes(b"")
    before = replay.tree_digest(str(d))
    (d / "part-0.parquet").write_bytes(b"abcdeg")
    assert replay.tree_digest(str(d)) != before
    assert replay.tree_digest(str(tmp_path / "absent")) == ""


# --- bad weeks --------------------------------------------------------------


def test_bad_week_schedule_yields_every_rejection_kind():
    kinds = set()
    for seed in range(3):
        for i in range(2 * workloads.BAD_EVERY):
            if i % workloads.BAD_EVERY == workloads.BAD_EVERY - 1:
                kinds.add(gen.BAD_KINDS[(seed + i // workloads.BAD_EVERY) % 3])
    assert kinds == set(gen.BAD_KINDS)


def test_bad_dumps_carry_their_defect():
    records = gen.registry_records(5, 1000)
    lines = gen.record_lines(records)
    ids = [r["id"] for r in records]

    dup = [json.loads(x) for x in gen.bad_lines("duplicate_id", records, lines, 5)]
    assert len(dup) == len(ids) + 1 and len({r["id"] for r in dup}) == len(ids)

    null = [json.loads(x) for x in gen.bad_lines("required_null", records, lines, 5)]
    assert sum(n["value"] is None for r in null for n in r["names"]) == 1

    shrunk = gen.bad_lines("shrinking", records, lines, 5)
    assert len(ids) > len(shrunk) > 0


# --- rollup routing and the metric list -------------------------------------


def test_rollup_input_is_above_the_configured_local_threshold():
    sys.path.insert(0, ROOT)
    from ror_etl_spark.operators import rollup

    # the workload routes through the program's own adaptive router
    assert rollup.LOCAL_THRESHOLD_CONF == "spark.ror.rollup.localThreshold"
    assert workloads.ROLLUP_ROWS > 2 * workloads.ROLLUP_LOCAL_THRESHOLD


def test_benchmark_json_lists_every_per_layer_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["per_layer"]] == list(workloads.PER_LAYER)
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
