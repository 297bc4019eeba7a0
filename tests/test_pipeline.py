"""End-to-end ROR pipeline tests: synthetic dump → fetch fake → gated
stages → staging/prod/backup parquet, mirroring the reference DAG run."""

from __future__ import annotations

import json
import os
import shutil
import zipfile

import pytest

from ror_etl_spark.plans.ror_pipeline import CheckFailed, RorPipeline
from ror_etl_spark.sources.fetch import (
    LocalDumpClient,
    fetch_to_jsonl,
    json_array_to_jsonl,
    pick_data_json,
)
from ror_etl_spark.sources.ror_schema import (
    ROR_INPUT_SCHEMA,
    RequiredFieldViolation,
    validate_required,
)
from ror_etl_spark.operators.rollup import DuplicateIdError

ORG_A = {
    "id": "https://ror.org/a",
    "status": "active",
    "names": [{"value": "Org A", "types": ["label"], "lang": "en"}],
    "relationships": [{"id": "https://ror.org/b", "label": "B", "type": "Parent"}],
    "locations": [
        {"geonames_id": 1, "geonames_details": {"name": "Town", "lat": 1.5, "lng": 2.5}}
    ],
}
ORG_B = {
    "id": "https://ror.org/b",
    "status": "active",
    "names": [{"value": "Org B"}],
    "relationships": [],
}
ORG_C = {
    "id": "https://ror.org/c",
    "status": "inactive",
    "names": [{"value": "Org C"}],
    "relationships": [
        {"id": "https://ror.org/zz", "label": "", "type": "related"},
        {"id": "https://ror.org/b", "label": "", "type": "parent"},
    ],
}


def _write_dump(tmp_path, orgs, as_zip=True):
    data = tmp_path / "v1.99-2026-08-01-ror-data.json"
    data.write_text(json.dumps(orgs))
    if not as_zip:
        return str(data)
    schema = tmp_path / "ror_schema.json"
    schema.write_text("{}")
    z = tmp_path / "dump.zip"
    with zipfile.ZipFile(z, "w") as zf:
        zf.write(data, data.name)
        zf.write(schema, schema.name)
    return str(z)


ORG_D_NON_ASCII = {
    "id": "https://ror.org/d",
    "status": "active",
    "names": [
        {"value": "Universität Zürich", "lang": "de"},
        {"value": "東京大学 — Tōdai", "lang": "ja"},
    ],
    "relationships": [{"id": "https://ror.org/b", "label": "Bé", "type": "parent"}],
}

REPORT_KEYS = {"rows", "backup", "n", "n_ids", "strategy", "iterations", "n_in_cycle"}


def _reference_jsonl(src: str) -> bytes:
    """The reference's conversion (fetch.py:36-41): load the whole array,
    re-serialize every record."""
    with open(src, encoding="utf-8") as f:
        records = json.load(f)
    return "".join(json.dumps(rec) + "\n" for rec in records).encode()


def _rows(spark, path):
    df = spark.read.schema(ROR_INPUT_SCHEMA).option("mode", "FAILFAST").json(str(path))
    return sorted(df.collect(), key=lambda r: r["id"])


def _success_report(alerts):
    [msg] = [a for a in alerts if "succeeded" in a]
    return json.loads(msg.split(": ", 1)[1])


def test_fetch_zip_to_jsonl(tmp_path):
    zip_path = _write_dump(tmp_path, [ORG_A, ORG_B])
    out = tmp_path / "ror.jsonl"
    n = fetch_to_jsonl(LocalDumpClient(zip_path), str(out))
    assert n == 2
    lines = out.read_text().strip().split("\n")
    assert len(lines) == 2
    assert json.loads(lines[0])["id"] == "https://ror.org/a"


def test_fetch_compact_dump_is_byte_identical_to_reference(tmp_path):
    src = tmp_path / "dump.json"
    src.write_text(json.dumps([ORG_A, ORG_B, ORG_C, ORG_D_NON_ASCII]))
    out = tmp_path / "ror.jsonl"
    assert json_array_to_jsonl(str(src), str(out)) == 4
    assert out.read_bytes() == _reference_jsonl(str(src))


@pytest.mark.parametrize(
    "orgs, dumps_kw",
    [
        ([ORG_A, ORG_B, ORG_C], {"indent": 2}),
        ([ORG_A, ORG_D_NON_ASCII], {"ensure_ascii": False}),
        ([], {}),
    ],
    ids=["pretty-printed", "non-ascii", "empty"],
)
def test_fetch_dumps_parse_to_reference_rows(spark, tmp_path, orgs, dumps_kw):
    src = tmp_path / "dump.json"
    src.write_text(json.dumps(orgs, **dumps_kw), encoding="utf-8")
    out = tmp_path / "ror.jsonl"
    ref = tmp_path / "ref.jsonl"
    ref.write_bytes(_reference_jsonl(str(src)))
    assert json_array_to_jsonl(str(src), str(out)) == len(orgs)
    assert len(out.read_text(encoding="utf-8").splitlines()) == len(orgs)
    assert _rows(spark, out) == _rows(spark, ref)


@pytest.mark.parametrize(
    "text",
    [json.dumps(ORG_A), json.dumps([ORG_A, ORG_B])[:-40], json.dumps([ORG_A]) + " x"],
    ids=["not-an-array", "truncated", "trailing-garbage"],
)
def test_fetch_rejects_malformed_dumps(tmp_path, text):
    src = tmp_path / "dump.json"
    src.write_text(text)
    out = tmp_path / "ror.jsonl"
    with pytest.raises(json.JSONDecodeError):
        json_array_to_jsonl(str(src), str(out))
    # no partial feed is left for a later load to pick up
    assert os.listdir(tmp_path) == ["dump.json"]


def test_pick_data_json_asserts_single(tmp_path):
    (tmp_path / "a.json").write_text("[]")
    (tmp_path / "b.json").write_text("[]")
    with pytest.raises(AssertionError):
        pick_data_json(str(tmp_path))


def test_pipeline_end_to_end(spark, tmp_path):
    jsonl = tmp_path / "ror.jsonl"
    fetch_to_jsonl(LocalDumpClient(_write_dump(tmp_path, [ORG_A, ORG_B, ORG_C])), str(jsonl))
    alerts = []
    p = RorPipeline(spark, str(tmp_path / "wh"), alert=alerts.append)
    result = p.run(str(jsonl))
    assert result["rows"] == 3
    assert set(result) == REPORT_KEYS
    assert (result["n"], result["n_ids"], result["n_in_cycle"]) == (3, 3, 0)
    assert result["strategy"] == "single-task" and result["iterations"] == 8
    assert _success_report(alerts) == result

    prod = spark.read.parquet(p.prod_path)
    up = {r["id"]: r["ultimate_parent"] for r in prod.collect()}
    # A: type 'Parent' matched case-insensitively → B; C: last rel wins → B
    assert up == {
        "https://ror.org/a": "https://ror.org/b",
        "https://ror.org/b": "https://ror.org/b",
        "https://ror.org/c": "https://ror.org/b",
    }
    # dated backup exists and matches prod
    assert spark.read.parquet(result["backup"]).count() == 3
    # descriptions metadata propagated
    desc = json.loads((tmp_path / "wh" / "prod" / "ror_descriptions.json").read_text())
    assert desc["table_description"] == "https://ror.org"
    assert "ultimate_parent" in desc["columns"]
    assert desc["columns"]["id"] == "ROR identifier URL"
    # the swap leaves no sibling beside prod or the backup
    assert sorted(os.listdir(tmp_path / "wh" / "prod")) == ["ror", "ror_descriptions.json"]
    assert os.listdir(tmp_path / "wh" / "backups") == [os.path.basename(result["backup"])]


def test_pipeline_above_threshold_feeds_gate_edges_to_doubling(spark, tmp_path):
    from ror_etl_spark.operators.rollup import LOCAL_THRESHOLD_CONF

    jsonl = tmp_path / "ror.jsonl"
    jsonl.write_text("\n".join(json.dumps(o) for o in [ORG_A, ORG_B, ORG_C]))
    spark.conf.set(LOCAL_THRESHOLD_CONF, "2")
    try:
        p = RorPipeline(spark, str(tmp_path / "wh"))
        result = p.run(str(jsonl))
    finally:
        spark.conf.unset(LOCAL_THRESHOLD_CONF)
    assert (result["strategy"], result["n"], result["n_in_cycle"]) == ("doubling", 3, 0)
    up = {r["id"]: r["ultimate_parent"] for r in spark.read.parquet(p.prod_path).collect()}
    assert set(up.values()) == {"https://ror.org/b"}


def test_pipeline_duplicate_ids_fail_before_staging(spark, tmp_path):
    jsonl = tmp_path / "ror.jsonl"
    jsonl.write_text(json.dumps(ORG_A) + "\n" + json.dumps(ORG_A) + "\n")
    p = RorPipeline(spark, str(tmp_path / "wh"))
    with pytest.raises(DuplicateIdError):
        p.run(str(jsonl))
    assert not os.path.exists(p.prod_path)


def test_required_null_outranks_duplicate_id(spark, tmp_path):
    bad_a = {**ORG_A, "names": [{"value": None}]}
    jsonl = tmp_path / "ror.jsonl"
    jsonl.write_text("\n".join(json.dumps(o) for o in [bad_a, ORG_B, ORG_B]))
    p = RorPipeline(spark, str(tmp_path / "wh"))
    with pytest.raises(RequiredFieldViolation, match="names"):
        p.run(str(jsonl))
    assert not os.path.exists(p.prod_path)


def test_gate_and_rollup_run_in_four_jobs(spark, tmp_path):
    """The fused front of the week: one gate scan (null flags, row and
    distinct-id counts) materializes the edges the rollup routes on, and
    the single-task kernel's run also yields n_in_cycle."""
    jsonl = tmp_path / "ror.jsonl"
    jsonl.write_text("\n".join(json.dumps(o) for o in [ORG_A, ORG_B, ORG_C]))
    p = RorPipeline(spark, str(tmp_path / "wh"))
    sc = spark.sparkContext
    group = f"gate-and-rollup-{os.getpid()}-{id(p)}"
    sc.setJobGroup(group, group)
    try:
        p.add_ultimate_parent(p.load_input(str(jsonl)))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 4


def _tree(path):
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            full = os.path.join(d, f)
            with open(full, "rb") as fh:
                out[os.path.relpath(full, path)] = fh.read()
    return out


def _crash_copy_after(k):
    real_copytree = shutil.copytree

    def copytree(src, dst, **kw):
        copied = []

        def copy(s, d, **ckw):
            if len(copied) == k:
                raise OSError(f"injected crash after {k} file(s)")
            copied.append(s)
            return shutil.copy2(s, d, **ckw)

        return real_copytree(src, dst, copy_function=copy, **kw)

    return copytree


def _crash_between_renames():
    real_rename = os.rename

    def rename(src, dst, **kw):
        if str(src).endswith(".incoming"):
            raise OSError("injected crash between the swap's renames")
        return real_rename(src, dst, **kw)

    return rename


@pytest.mark.parametrize(
    "target, crash",
    [
        ("copytree", _crash_copy_after(0)),
        ("copytree", _crash_copy_after(2)),
        ("rename", _crash_between_renames()),
    ],
    ids=["copy-first-file", "copy-mid-table", "between-renames"],
)
def test_crashed_promote_keeps_prod_and_the_monotonic_gate(
    spark, tmp_path, monkeypatch, target, crash
):
    wh = str(tmp_path / "wh")
    three = tmp_path / "three.jsonl"
    three.write_text("\n".join(json.dumps(o) for o in [ORG_A, ORG_B, ORG_C]))
    first = RorPipeline(spark, wh)
    first.run(str(three))
    before = _tree(first.prod_path)

    four = tmp_path / "four.jsonl"
    four.write_text("\n".join(json.dumps(o) for o in [ORG_A, ORG_B, ORG_C, ORG_D_NON_ASCII]))
    module = shutil if target == "copytree" else os
    with monkeypatch.context() as mp:
        mp.setattr(module, target, crash)
        with pytest.raises(OSError, match="injected"):
            RorPipeline(spark, wh).run(str(four))
    if target == "copytree":
        assert _tree(first.prod_path) == before

    # next week shrinks: the gate must see the previous prod, not a
    # missing or half-copied one, and refuse the promotion
    one = tmp_path / "one.jsonl"
    one.write_text(json.dumps(ORG_B))
    with pytest.raises(CheckFailed, match="shrinking"):
        RorPipeline(spark, wh).run(str(one))
    assert _tree(first.prod_path) == before
    assert sorted(os.listdir(os.path.dirname(first.prod_path))) == [
        "ror",
        "ror_descriptions.json",
    ]


def test_pipeline_shrinking_table_blocks_promote(spark, tmp_path):
    wh = tmp_path / "wh"
    jsonl3 = tmp_path / "three.jsonl"
    jsonl3.write_text("\n".join(json.dumps(o) for o in [ORG_A, ORG_B, ORG_C]))
    RorPipeline(spark, str(wh)).run(str(jsonl3))

    jsonl1 = tmp_path / "one.jsonl"
    jsonl1.write_text(json.dumps(ORG_B))
    p2 = RorPipeline(spark, str(wh))
    with pytest.raises(CheckFailed, match="shrinking"):
        p2.run(str(jsonl1))
    # prod untouched, staging keeps the bad (small) load for inspection
    assert spark.read.parquet(p2.prod_path).count() == 3
    assert spark.read.parquet(p2.staging_path).count() == 1


def test_required_field_violation(spark):
    # names[].value is REQUIRED (schemas/ror.json:8-11)
    bad = [{"id": "x", "names": [{"value": None, "lang": "en"}]}]
    df = spark.createDataFrame(
        [(json.dumps(bad[0]),)], "v string"
    )  # route through JSON to get the exact input schema
    from ror_etl_spark.sources.ror_schema import ROR_INPUT_SCHEMA
    from pyspark.sql import functions as F

    parsed = df.select(F.from_json("v", ROR_INPUT_SCHEMA).alias("r")).select("r.*")
    with pytest.raises(RequiredFieldViolation, match="names"):
        validate_required(parsed)


def test_cycle_alerts_but_pipeline_succeeds(spark, tmp_path):
    x = {**ORG_B, "id": "https://ror.org/x",
         "relationships": [{"id": "https://ror.org/y", "label": "", "type": "parent"}]}
    y = {**ORG_B, "id": "https://ror.org/y",
         "relationships": [{"id": "https://ror.org/x", "label": "", "type": "parent"}]}
    jsonl = tmp_path / "cycle.jsonl"
    jsonl.write_text(json.dumps(x) + "\n" + json.dumps(y))
    alerts = []
    p = RorPipeline(spark, str(tmp_path / "wh"), alert=alerts.append)
    result = p.run(str(jsonl))
    assert result["rows"] == 2
    assert set(result) == REPORT_KEYS
    assert result["n_in_cycle"] == 2 and result["strategy"] == "single-task"
    assert _success_report(alerts) == result
    assert any("did not converge" in a for a in alerts)
    up = {r["id"]: r["ultimate_parent"]
          for r in spark.read.parquet(p.prod_path).collect()}
    assert set(up.values()) <= {"https://ror.org/x", "https://ror.org/y"}
