"""Single-node throughput shootout: this engine vs the reference's
single-process approach on the same ROR-shaped workload.

The 'reference style' contender reimplements (from SURVEY.md §3.3's
description, not the reference code) what get_ultimate_parent.py does: read
JSONL into memory, build an id→parent dict (last parent relationship wins,
case-insensitive), recursively chase each id to its root with a depth cap
and no memoization, append ultimate_parent, write JSONL.

The Spark contender runs the engine's gated pipeline stage-equivalents:
schema-enforced load → distributed pointer-doubling rollup → broadcast
join-back → parquet write.

Usage: python tools/ref_shootout.py [--n 110000]  (110k ≈ the real ROR
registry size the reference processes weekly)
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def make_orgs(n: int, path: str) -> None:
    with open(path, "w") as f:
        for i in range(n):
            rels = []
            if i % 100 != 0:
                rels.append(
                    {"id": f"https://ror.org/{i-1:06d}", "label": "", "type": "Parent"}
                )
            f.write(
                json.dumps(
                    {
                        "id": f"https://ror.org/{i:06d}",
                        "status": "active",
                        "names": [{"value": f"Org {i}", "types": ["label"], "lang": "en"}],
                        "established": 1900 + (i % 120),
                        "relationships": rels,
                    }
                )
                + "\n"
            )


def reference_style(jsonl_in: str, jsonl_out: str, depth_cap: int = 200) -> float:
    """Faithful single-process restatement of the reference algorithm
    (per SURVEY §3.3): full-record parse, dict build, per-id recursive
    chase without memoization, row rewrite."""
    t0 = time.perf_counter()
    id_to_parent: dict[str, str] = {}
    rows = []
    with open(jsonl_in) as f:
        for line in f:
            js = json.loads(line)
            rid = js["id"]
            parent = rid
            for rel in js.get("relationships") or []:
                if (rel.get("type") or "").lower() == "parent":
                    parent = rel["id"]  # last one wins
            assert rid not in id_to_parent, f"Duplicate ID: {rid}"
            id_to_parent[rid] = parent
            rows.append(js)

    def roll(i: str) -> str:
        seen = 0
        cur = i
        while seen < depth_cap:
            p = id_to_parent.get(cur)
            if p is None or p == cur:
                return cur
            cur = p
            seen += 1
        return cur  # depth cap: alert-and-continue semantics

    resolved = {rid: roll(rid) for rid in id_to_parent}
    with open(jsonl_out, "w") as f:
        for js in rows:
            js["ultimate_parent"] = resolved[js["id"]]
            f.write(json.dumps(js) + "\n")
    return time.perf_counter() - t0


def spark_style(spark, jsonl_in: str, parquet_out: str) -> float:
    from ror_etl_spark.operators.rollup import (
        assert_unique_ids,
        attach_ultimate_parent,
        extract_parent_edges,
        ultimate_parent,
    )
    from ror_etl_spark.sources.ror_schema import ROR_INPUT_SCHEMA

    t0 = time.perf_counter()
    ror = spark.read.schema(ROR_INPUT_SCHEMA).option("mode", "FAILFAST").json(jsonl_in)
    # parse the JSON once: three downstream stages (uniqueness gate, edge
    # extraction, join-back) would otherwise each re-parse every record
    ror = ror.persist()
    try:
        assert_unique_ids(ror)
        # same kernel configuration as the gated pipeline stage this
        # contender mirrors (plans/ror_pipeline.py:add_ultimate_parent):
        # batching the convergence aggregate halves job count on tight
        # depth bounds, and the shootout should measure the shipped
        # configuration, not the conservative default
        result = ultimate_parent(extract_parent_edges(ror), check_every=2)
        out = attach_ultimate_parent(ror, result)
        out.write.mode("overwrite").parquet(parquet_out)
    finally:
        ror.unpersist()
    return time.perf_counter() - t0


def reference_full_pipeline(jsonl_in: str, root: str, depth_cap: int = 200) -> float:
    """Single-process restatement of the reference's WHOLE gated weekly
    run (SURVEY §2.1 task chain): tmp clear → load with REQUIRED-field
    validation → duplicate-id gate → ultimate-parent walk → staging write
    → uniqueness + monotonic-count checks → staging→prod promote →
    description metadata → dated backup. Data stays in one process's
    memory between stages (the cheapest possible layout for it — checks
    re-scan the in-memory rows, promote/backup are file copies, the
    analogue of BigQuery's server-side table copies)."""
    import shutil

    t0 = time.perf_counter()
    tmp = os.path.join(root, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp, exist_ok=True)

    id_to_parent: dict[str, str] = {}
    rows = []
    with open(jsonl_in) as f:
        for line in f:
            js = json.loads(line)
            rid = js["id"]
            assert rid is not None and js.get("status") is not None
            parent = rid
            for rel in js.get("relationships") or []:
                if (rel.get("type") or "").lower() == "parent":
                    parent = rel["id"]
            assert rid not in id_to_parent, f"Duplicate ID: {rid}"
            id_to_parent[rid] = parent
            rows.append(js)

    def roll(i: str) -> str:
        seen, cur = 0, i
        while seen < depth_cap:
            p = id_to_parent.get(cur)
            if p is None or p == cur:
                return cur
            cur = p
            seen += 1
        return cur

    resolved = {rid: roll(rid) for rid in id_to_parent}
    staging = os.path.join(root, "staging.jsonl")
    with open(staging, "w") as f:
        for js in rows:
            js["ultimate_parent"] = resolved[js["id"]]
            assert js["ultimate_parent"] is not None
            f.write(json.dumps(js) + "\n")

    # checks re-scan the loaded rows (the BigQueryCheckOperator analogue
    # re-queries the staged table; in-memory is the cheapest equivalent)
    ids = {js["id"] for js in rows}
    assert len(ids) == len(rows), "duplicate ids in staging"
    prod = os.path.join(root, "prod.jsonl")
    if os.path.exists(prod):
        with open(prod) as f:
            n_prod = sum(1 for _ in f)
        assert len(rows) >= n_prod, "shrinking table"
    shutil.copyfile(staging, prod)
    with open(os.path.join(root, "descriptions.json"), "w") as f:
        json.dump({"table_description": "Research Organization Registry"}, f)
    shutil.copyfile(prod, os.path.join(root, "backup.jsonl"))
    return time.perf_counter() - t0


def full_pipeline_shootout(spark, jsonl: str, tmp: str, n: int) -> None:
    """End-to-end gated pipeline both sides; prints one JSON line and
    asserts the prod tables carry identical (id, ultimate_parent)."""
    from ror_etl_spark.plans.ror_pipeline import RorPipeline

    ref_root = os.path.join(tmp, "ref_wh")
    os.makedirs(ref_root, exist_ok=True)
    ref_s = min(reference_full_pipeline(jsonl, ref_root) for _ in range(3))

    eng_root = os.path.join(tmp, "eng_wh")
    pipe = RorPipeline(spark, eng_root)
    pipe.run(jsonl)  # cold run: JVM/codegen warm-up, not billed (the
    # reference contender gets the same best-of-3 treatment)
    best = None
    for _ in range(3):
        t0 = time.perf_counter()
        pipe.run(jsonl)
        best = min(best or 9e9, time.perf_counter() - t0)

    ref_prod = {}
    with open(os.path.join(ref_root, "prod.jsonl")) as f:
        for line in f:
            js = json.loads(line)
            ref_prod[js["id"]] = js["ultimate_parent"]
    eng_prod = {
        r["id"]: r["ultimate_parent"]
        for r in spark.read.parquet(pipe.prod_path)
        .select("id", "ultimate_parent")
        .collect()
    }
    assert ref_prod == eng_prod, "prod tables disagree"
    print(
        json.dumps(
            {
                "mode": "full_pipeline",
                "n_orgs": n,
                "reference_style_sec": round(ref_s, 2),
                "spark_warm_sec": round(best, 2),
                "prod_identical": True,
            }
        )
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=110_000)
    ap.add_argument(
        "--full",
        action="store_true",
        help="also race the WHOLE gated pipeline (load -> checks -> promote -> backup)",
    )
    args = ap.parse_args()

    from ror_etl_spark.session import get_spark

    spark = get_spark("shootout")
    with tempfile.TemporaryDirectory() as tmp:
        jsonl = os.path.join(tmp, "ror.jsonl")
        make_orgs(args.n, jsonl)

        if args.full:
            full_pipeline_shootout(spark, jsonl, tmp, args.n)
            return

        # best-of-3 on BOTH engines (the host is a shared VM — ambient
        # load drifts; single-shot timings flapped ±30% between rounds)
        ref_s = min(
            reference_style(jsonl, os.path.join(tmp, f"ref_out{i}.jsonl"))
            for i in range(3)
        )
        os.replace(os.path.join(tmp, "ref_out0.jsonl"), os.path.join(tmp, "ref_out.jsonl"))
        spark.read.parquet  # session warm
        eng_s = spark_style(spark, jsonl, os.path.join(tmp, "eng_out"))
        # later runs = steady state (JVM warm, code compiled)
        eng_s2 = min(
            spark_style(spark, jsonl, os.path.join(tmp, f"eng_out{i+2}"))
            for i in range(3)
        )

        # sanity: identical results
        ref = {}
        with open(os.path.join(tmp, "ref_out.jsonl")) as f:
            for line in f:
                js = json.loads(line)
                ref[js["id"]] = js["ultimate_parent"]
        eng = {
            r["id"]: r["ultimate_parent"]
            for r in spark.read.parquet(os.path.join(tmp, "eng_out")).select(
                "id", "ultimate_parent"
            ).collect()
        }
        assert ref == eng, "engines disagree"

        print(
            json.dumps(
                {
                    "n_orgs": args.n,
                    "reference_style_sec": round(ref_s, 2),
                    "spark_cold_sec": round(eng_s, 2),
                    "spark_warm_sec": round(eng_s2, 2),
                    "results_identical": True,
                }
            )
        )


if __name__ == "__main__":
    main()
