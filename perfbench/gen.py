"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of ``seed`` and a size: the same seed
gives byte-identical inputs. The program under test only ever sees the
files these functions write.

Forest shape (both workloads): about half the ids are roots, the rest
hang under them in chains of depth 1-5; on top of that there are a few
2-cycles and 3-cycles and one chain deeper than the reference's depth-200
cap (``DEEP_CHAIN`` links, still inside the 2^8-hop doubling budget).
"""

from __future__ import annotations

import json
import random
import zipfile

import numpy as np

ALPHABET = np.frombuffer(b"0123456789abcdefghjkmnpqrstvwxyz", dtype=np.uint8)
ID_PREFIX = b"https://ror.org/0"
DEEP_CHAIN = 230
MAX_DEPTH = 5
PARENT_TYPES = ("parent", "Parent", "PARENT")
BAD_KINDS = ("duplicate_id", "required_null", "shrinking")


def ror_ids(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct ROR-shaped ids (``https://ror.org/0`` + 6 base32
    chars + 2 digits) as a numpy ``S`` array, in random order.

    Distinctness comes from an affine bijection on 30-bit integers (an
    odd multiplier mod 2^30), so no set of seen ids is kept."""
    mult = int(rng.integers(0, 1 << 29)) * 2 + 1
    add = int(rng.integers(0, 1 << 30))
    v = (np.arange(n, dtype=np.uint64) * np.uint64(mult) + np.uint64(add)) & np.uint64(
        (1 << 30) - 1
    )
    width = len(ID_PREFIX) + 8
    buf = np.empty((n, width), dtype=np.uint8)
    buf[:, : len(ID_PREFIX)] = np.frombuffer(ID_PREFIX, dtype=np.uint8)
    for k in range(6):
        digit = (v >> np.uint64(5 * (5 - k))) & np.uint64(31)
        buf[:, len(ID_PREFIX) + k] = ALPHABET[digit.astype(np.intp)]
    check = (v % np.uint64(97)).astype(np.intp)
    buf[:, -2] = ALPHABET[check // 10]
    buf[:, -1] = ALPHABET[check % 10]
    return buf.view(f"S{width}").ravel()


def forest(rng: np.random.Generator, n: int, n_cyc2: int, n_cyc3: int) -> np.ndarray:
    """Parent index per node; roots point at themselves.

    Layout by index: one deep chain, then the cycles, then a ROR-like
    forest of depth <= MAX_DEPTH. Callers shuffle the row order."""
    parent = np.arange(n, dtype=np.int64)
    # deep chain: node i -> i-1, node 0 is its root
    parent[1:DEEP_CHAIN + 1] = np.arange(DEEP_CHAIN)
    pos = DEEP_CHAIN + 1
    for size, count in ((2, n_cyc2), (3, n_cyc3)):
        for _ in range(count):
            members = np.arange(pos, pos + size)
            parent[members] = np.roll(members, -1)
            pos += size
    rest = np.arange(pos, n)
    n_roots = len(rest) // 2
    levels = [rest[:n_roots]]
    remaining = rest[n_roots:]
    # each deeper level is about 40% of the one above it
    for d in range(1, MAX_DEPTH + 1):
        take = len(remaining) if d == MAX_DEPTH else int(len(remaining) * 0.6)
        level, remaining = remaining[:take], remaining[take:]
        parent[level] = rng.choice(levels[-1], size=len(level))
        levels.append(level)
    return parent


# --- rollup_at_scale ----------------------------------------------------


def rollup_edges(seed: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    """``(id, parent)`` as numpy ``S`` arrays, roots as self-loops, rows
    in random order. Enough 3-cycles that the doubling loop never reads
    ``changed == 0`` and runs its whole 8-round budget."""
    rng = np.random.default_rng([seed, 1])
    ids = ror_ids(rng, n)
    par = forest(rng, n, n_cyc2=n // 20_000, n_cyc3=n // 10_000)
    order = rng.permutation(n)
    return ids[order], ids[par][order]


def write_edges_parquet(path: str, ids: np.ndarray, parents: np.ndarray) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "id": pa.array(ids).cast(pa.string()),
            "parent": pa.array(parents).cast(pa.string()),
        }
    )
    pq.write_table(table, path, row_group_size=1 << 20)


# --- ror_weekly_refresh -------------------------------------------------

COUNTRIES = [
    ("US", "United States", "NA", "North America", "US-CA", "California"),
    ("GB", "United Kingdom", "EU", "Europe", "GB-ENG", "England"),
    ("DE", "Germany", "EU", "Europe", "DE-BY", "Bavaria"),
    ("FR", "France", "EU", "Europe", "FR-IDF", "Ile-de-France"),
    ("JP", "Japan", "AS", "Asia", "JP-13", "Tokyo"),
    ("CN", "China", "AS", "Asia", "CN-BJ", "Beijing"),
    ("BR", "Brazil", "SA", "South America", "BR-SP", "Sao Paulo"),
    ("IN", "India", "AS", "Asia", "IN-KA", "Karnataka"),
    ("AU", "Australia", "OC", "Oceania", "AU-NSW", "New South Wales"),
    ("ZA", "South Africa", "AF", "Africa", "ZA-GT", "Gauteng"),
]
ORG_TYPES = ["education", "funder", "healthcare", "company", "archive",
             "nonprofit", "government", "facility", "other"]
WORDS = ["Institute", "University", "Center", "Laboratory", "Hospital",
         "Foundation", "Council", "Department", "School", "Agency",
         "Research", "Science", "Medical", "National", "Applied", "Advanced"]


def registry_records(seed: int, n: int) -> list[dict]:
    """A ROR-v2-shaped registry of ``n`` orgs (~1 KB of JSON each).

    Parent links use ``parent``/``Parent``/``PARENT``; every record also
    carries ignorable ``related``/``child`` links, and some carry two
    parent links of which the LAST is the real one."""
    rng = np.random.default_rng([seed, 2])
    py = random.Random(seed)
    ids = [s.decode() for s in ror_ids(rng, n)]
    par = forest(rng, n, n_cyc2=3, n_cyc3=3)
    children: dict[int, list[int]] = {}
    for i, p in enumerate(par.tolist()):
        if p != i:
            children.setdefault(p, []).append(i)
    records = []
    for i in range(n):
        rels = []
        if py.random() < 0.3:
            j = py.randrange(n)
            rels.append({"id": ids[j], "label": f"Org {j}", "type": "related"})
        for c in children.get(i, [])[:2]:
            rels.append({"id": ids[c], "label": f"Org {c}", "type": "child"})
        p = int(par[i])
        if p != i:
            if py.random() < 0.1:
                # a superseded parent link: the last one must win
                j = py.randrange(n)
                rels.append({"id": ids[j], "label": f"Org {j}",
                             "type": py.choice(PARENT_TYPES)})
            rels.append({"id": ids[p], "label": f"Org {p}",
                         "type": py.choice(PARENT_TYPES)})
        cc, cname, cont, contname, sub, subname = py.choice(COUNTRIES)
        w1, w2 = py.choice(WORDS), py.choice(WORDS)
        name = f"{w1} of {w2} {i}"
        slug = f"org{i}"
        records.append({
            "id": ids[i],
            "status": "active" if py.random() < 0.95 else "inactive",
            "types": [py.choice(ORG_TYPES)],
            "established": 1800 + py.randrange(225) if py.random() < 0.8 else None,
            "domains": [f"{slug}.example.{cc.lower()}"],
            "names": [
                {"value": name, "types": ["ror_display", "label"], "lang": "en"},
                {"value": f"{w1[:3].upper()}{w2[:2].upper()}{i % 1000}",
                 "types": ["acronym"], "lang": None},
            ],
            "links": [
                {"type": "website", "value": f"https://www.{slug}.example.{cc.lower()}"},
            ],
            "admin": {
                "created": {"date": f"20{18 + i % 6}-0{1 + i % 9}-1{i % 10}",
                            "schema_version": "1.0"},
                "last_modified": {"date": f"2025-0{1 + i % 9}-2{i % 8}",
                                  "schema_version": "2.1"},
            },
            "locations": [{
                "geonames_id": 1_000_000 + py.randrange(9_000_000),
                "geonames_details": {
                    "continent_code": cont, "continent_name": contname,
                    "country_name": cname, "country_code": cc,
                    "country_subdivision_code": sub,
                    "country_subdivision_name": subname,
                    "lat": round(py.uniform(-60, 70), 5),
                    "lng": round(py.uniform(-180, 180), 5),
                    "name": f"City {py.randrange(5000)}",
                },
            }],
            "relationships": rels,
            "external_ids": [
                {"type": "grid", "all": [f"grid.{i}.{py.randrange(10)}"],
                 "preferred": f"grid.{i}.{py.randrange(10)}"},
                {"type": "isni", "all": [f"0000 000{py.randrange(10)} {i:04d} {i % 97:04d}"],
                 "preferred": None},
                {"type": "wikidata", "all": [f"Q{py.randrange(10**8)}"], "preferred": None},
            ],
        })
    py.shuffle(records)
    return records


def record_lines(records: list[dict]) -> list[str]:
    """Each record serialized once; dumps are joins of these lines."""
    return [json.dumps(r) for r in records]


def bad_lines(kind: str, records: list[dict], lines: list[str], seed: int) -> list[str]:
    """A dump the pipeline must reject before promotion.

    ``duplicate_id``: one record appears twice (DuplicateIdError);
    ``required_null``: one ``names[].value`` is null (RequiredFieldViolation);
    ``shrinking``: 1% of the registry is gone (CheckFailed, monotonic count).
    """
    py = random.Random(seed)
    out = list(lines)
    if kind == "duplicate_id":
        out.insert(py.randrange(len(out)), lines[py.randrange(len(lines))])
    elif kind == "required_null":
        j = py.randrange(len(out))
        rec = dict(records[j])
        rec["names"] = [dict(rec["names"][0], value=None)] + rec["names"][1:]
        out[j] = json.dumps(rec)
    elif kind == "shrinking":
        for j in sorted(py.sample(range(len(out)), len(out) // 100), reverse=True):
            del out[j]
    else:
        raise ValueError(f"unknown bad-dump kind: {kind}")
    return out


def write_dump_zip(path: str, lines: list[str]) -> int:
    """The dump as Zenodo ships it: a zip holding one JSON array and a
    schema file. Stored uncompressed, so the harness pays no deflate.
    Returns the JSON byte count."""
    data = ("[" + ",".join(lines) + "]").encode()
    with zipfile.ZipFile(path, "w", compression=zipfile.ZIP_STORED) as z:
        # fixed member timestamps keep the zip bytes a function of the seed
        for name, payload in (("v2.1-ror-data.json", data),
                              ("v2.1-ror-data_schema_v2.json", b"{}")):
            z.writestr(zipfile.ZipInfo(name, date_time=(2026, 1, 1, 0, 0, 0)), payload)
    return len(data)
