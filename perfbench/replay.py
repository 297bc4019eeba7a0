"""Independent output checks: numpy/pyarrow replays of the documented
rollup semantics, written without any code from the program under test.

Semantics replayed (reference get_ultimate_parent.py, as restated in
``operators/rollup.py``):
- a record's parent is its LAST relationship whose type is ``parent`` in
  any letter case; a record without one is a root (maps to itself);
- ancestors are resolved by pointer doubling for ``ROUNDS`` rounds
  (2^8 = 256 hops, the budget that covers the reference's depth-200 cap):
  chains end at their root, cycle members end at an in-cycle node;
- a parent that is not itself an id is a terminal;
- ``n_in_cycle`` counts ids whose resolved ancestor is an id but not a
  root (its own parent is not itself).
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd

ROUNDS = 8


def last_parent(record: dict) -> str:
    parent = record["id"]
    for rel in record.get("relationships") or []:
        if (rel.get("type") or "").lower() == "parent":
            parent = rel["id"]
    return parent


def doubling(ids: np.ndarray, parents: np.ndarray) -> tuple[np.ndarray, int]:
    """Resolve every id by ``ROUNDS`` rounds of ``anc = anc[anc]``.
    Returns (ultimate parent per id, n_in_cycle)."""
    codes, uniques = pd.factorize(np.concatenate([ids, parents]))
    n = len(ids)
    id_codes, parent_codes = codes[:n], codes[n:]
    anc = np.arange(len(uniques), dtype=np.int64)
    anc[id_codes] = parent_codes
    first = anc.copy()
    for _ in range(ROUNDS):
        anc = anc[anc]
    final = anc[id_codes]
    is_id = np.zeros(len(uniques), dtype=bool)
    is_id[id_codes] = True
    in_cycle = is_id[final] & (first[final] != final)
    return np.asarray(uniques, dtype=object)[final], int(in_cycle.sum())


def expected_registry(records: list[dict]) -> dict[str, str]:
    """id -> ultimate_parent for a registry dump."""
    ids = np.array([r["id"] for r in records], dtype=object)
    parents = np.array([last_parent(r) for r in records], dtype=object)
    up, _ = doubling(ids, parents)
    return dict(zip(ids.tolist(), up.tolist()))


def read_pairs(path: str, cols: tuple[str, str]) -> pd.DataFrame:
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=list(cols)).to_pandas()


def mapping_matches(path: str, cols: tuple[str, str], expected: dict[str, str]) -> bool:
    """The parquet table at ``path`` holds exactly the expected pairs."""
    df = read_pairs(path, cols)
    if len(df) != len(expected) or df[cols[0]].duplicated().any():
        return False
    want = df[cols[0]].map(expected)
    return bool((want.notna() & (want == df[cols[1]])).all())


def tree_digest(path: str) -> str:
    """Digest of every file name and byte under ``path`` (or of one file);
    '' when it does not exist."""
    if not os.path.exists(path):
        return ""
    h = hashlib.sha256()
    files = [path] if os.path.isfile(path) else sorted(
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
    )
    for f in files:
        h.update(os.path.relpath(f, path).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )
