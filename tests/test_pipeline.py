"""End-to-end ROR pipeline tests: synthetic dump → fetch fake → gated
stages → staging/prod/backup parquet, mirroring the reference DAG run."""

from __future__ import annotations

import dataclasses
import json
import os
import random
import shutil
import zipfile
from datetime import datetime

import pytest

from ror_etl_spark.plans import ror_pipeline
from ror_etl_spark.plans.ror_pipeline import CheckFailed, RorPipeline
from ror_etl_spark.sources.fetch import (
    LocalDumpClient,
    fetch_to_jsonl,
    gate_path,
    json_array_to_jsonl,
    pick_data_json,
    read_gate,
)
from ror_etl_spark.sources.ror_schema import (
    ROR_INPUT_SCHEMA,
    RequiredFieldViolation,
    gate_record,
    required_paths,
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


# --- the fetch's gate: both routes ----------------------------------------
#
# fetch_to_jsonl computes the input gate while it writes the feed and
# commits it as a sidecar; load_input trusts it only for that same feed,
# at or below the rollup's local_threshold. Deleting the sidecar sends the
# same feed through the Spark scan, so each case below runs both routes.

ROUTES = pytest.mark.parametrize("route", ["fetched", "scanned"])


def _jobs(spark, name, fn):
    """Spark jobs that ``fn()`` runs, and its result."""
    sc = spark.sparkContext
    group = f"pipeline-{name}-{os.getpid()}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def _fetch(tmp_path, orgs, route="fetched", name="ror.jsonl"):
    """Fetch ``orgs`` as a zipped dump; the ``scanned`` route drops the
    sidecar, so the pipeline gates the same feed with its Spark scan."""
    dump_dir = tmp_path / f"dump-{name}"
    dump_dir.mkdir()
    feed = str(tmp_path / name)
    fetch_to_jsonl(LocalDumpClient(_write_dump(dump_dir, orgs)), feed)
    if route == "scanned" and os.path.exists(gate_path(feed)):
        os.remove(gate_path(feed))
    return feed


def test_gate_record_reads_the_spark_gate_columns():
    rels = [
        {"id": "p1", "type": "PARENT"},
        None,
        {"id": "r", "type": "related"},
        {"id": "p2", "type": "pArEnT"},
        {"type": "parent"},  # a typeless or idless relationship
    ]
    assert gate_record({"id": "x", "relationships": rels[:4]}) == ("x", "p2", ())
    # the last parent's id is null: coalesce to self, not to an earlier one
    assert gate_record({"id": "x", "relationships": rels}) == ("x", "x", ())
    assert gate_record({"relationships": None}) == (None, None, ())
    loc = {"geonames_id": 1, "geonames_details": {"name": None, "lat": 1}}
    _, _, nulls = gate_record(
        {"id": "x", "names": [None], "locations": [loc], "links": []}
    )
    names = [name for name, _, _ in required_paths()]
    assert [names[i] for i in nulls] == [
        "null:names[].value",
        "null:locations[].geonames_details.name",
    ]
    unvouched = [
        [1],
        {"id": 5},
        {"id": "x", "relationships": [{"id": "p", "type": 5}]},
        {"id": "x", "relationships": [{"id": 5, "type": "parent"}]},
        {"id": "x", "relationships": {"id": "p", "type": "parent"}},
        {"id": "x", "names": ["n"]},
        {"id": "x", "names": [{"value": 5}]},
        {"id": "x", "locations": [{"geonames_id": "1"}]},
        {"id": "x", "locations": [{"geonames_id": True}]},
        {"id": "x", "locations": [{"geonames_id": 1 << 63}]},
        {"id": "x", "locations": [{"geonames_details": "Paris"}]},
        {"id": "x", "locations": [{"geonames_details": {"lat": "1"}}]},
        {"id": "x", "external_ids": [{"type": "grid", "all": "g"}]},
    ]
    for record in unvouched:
        assert gate_record(record) is None, record


def test_fetched_feed_gates_and_rolls_up_in_zero_jobs(spark, tmp_path):
    """The fetch computed the gate, so the week's front runs no Spark job:
    load_input reads the sidecar and the single-task kernel runs on the
    driver. Compare test_gate_and_rollup_run_in_four_jobs, its Spark
    route."""
    feed = _fetch(tmp_path, [ORG_A, ORG_B, ORG_C])
    p = RorPipeline(spark, str(tmp_path / "wh"))
    jobs, _ = _jobs(spark, "fetched", lambda: p.add_ultimate_parent(p.load_input(feed)))
    assert jobs == 0
    assert p._rollup.strategy == "single-task" and p._rollup.n_in_cycle == 0


def test_fetched_week_runs_two_jobs_after_the_fetch(spark, tmp_path):
    """After the fetch a good week runs the staging write's two jobs (the
    mapping's broadcast and the write); the checks prove their answers
    from counts the run already holds. The second week has a prod to
    count and runs through run()."""
    wh = str(tmp_path / "wh")
    feed = _fetch(tmp_path, [ORG_A, ORG_B, ORG_C])
    p = RorPipeline(spark, wh)
    p.clear_tmp()
    jobs = {}
    jobs["load_input"], ror = _jobs(spark, "week-load", lambda: p.load_input(feed))
    jobs["add_ultimate_parent"], ror = _jobs(
        spark, "week-rollup", lambda: p.add_ultimate_parent(ror)
    )
    jobs["load_staging"], _ = _jobs(spark, "week-staging", lambda: p.load_staging(ror))
    for stage in ("check_unique_ids", "check_monotonic_count", "promote", "backup"):
        jobs[stage], _ = _jobs(spark, f"week-{stage}", getattr(p, stage))
    assert jobs == {
        "load_input": 0, "add_ultimate_parent": 0, "load_staging": 2,
        "check_unique_ids": 0, "check_monotonic_count": 0, "promote": 0, "backup": 0,
    }
    jobs, result = _jobs(spark, "second-week", lambda: RorPipeline(spark, wh).run(feed))
    assert jobs == 2 and result["rows"] == 3


def _repeat_one_mapping_id(real):
    """Wrap a rollup route so its mapping carries ORG_A's row twice."""

    def rollup(*args, **kw):
        result = real(*args, **kw)
        m = result.mapping
        return dataclasses.replace(
            result, mapping=m.unionByName(m.filter(m["id"] == ORG_A["id"]))
        )

    return rollup


@ROUTES
def test_repeated_mapping_id_fails_before_promote(spark, tmp_path, monkeypatch, route):
    """A mapping that repeats one id doubles that id's staging row. The
    gate counted 3 distinct ids, the staging write 4 rows: the week
    fails on unique ids, and prod stays as it was."""
    wh = str(tmp_path / "wh")
    RorPipeline(spark, wh).run(_fetch(tmp_path, [ORG_A, ORG_B, ORG_C], name="good.jsonl"))
    prod_before = _tree(os.path.join(wh, "prod"))
    feed = _fetch(tmp_path, [ORG_A, ORG_B, ORG_C], route)
    target = "rollup_on_driver" if route == "fetched" else "_rollup_edges"
    monkeypatch.setattr(
        ror_pipeline, target, _repeat_one_mapping_id(getattr(ror_pipeline, target))
    )
    p = RorPipeline(spark, wh)
    with pytest.raises(CheckFailed, match="duplicate ids"):
        p.run(feed)
    assert spark.read.parquet(p.staging_path).count() == 4
    assert _tree(os.path.join(wh, "prod")) == prod_before


@ROUTES
def test_staged_frame_that_lost_a_row_fails_before_promote(spark, tmp_path, monkeypatch, route):
    """Fewer staging rows than the gate counted fail unique ids too, even
    with no prod yet for the monotonic check to compare against."""
    real = ror_pipeline.attach_ultimate_parent
    monkeypatch.setattr(
        ror_pipeline,
        "attach_ultimate_parent",
        lambda ror, result: real(ror, result).filter(f"id != '{ORG_C['id']}'"),
    )
    p = RorPipeline(spark, str(tmp_path / "wh"))
    with pytest.raises(CheckFailed, match=r"2 row\(s\) written, the gate counted 3"):
        p.run(_fetch(tmp_path, [ORG_A, ORG_B, ORG_C], route))
    assert not os.path.exists(p.prod_path)


def test_unique_ids_queries_a_frame_the_gate_did_not_count(spark, tmp_path):
    """Staging written from any frame but the one add_ultimate_parent
    returned: the gate's count says nothing about it, so check_unique_ids
    queries staging. Here the counts agree (3 and 3) yet an id repeats."""
    feed = _fetch(tmp_path, [ORG_A, ORG_B, ORG_C])
    p = RorPipeline(spark, str(tmp_path / "wh"))
    with_up = p.add_ultimate_parent(p.load_input(feed))
    a = with_up.filter(f"id = '{ORG_A['id']}'")
    p.load_staging(a.unionByName(a).unionByName(with_up.filter(f"id = '{ORG_B['id']}'")))
    with pytest.raises(CheckFailed, match="duplicate ids"):
        p.check_unique_ids()


@ROUTES
def test_feed_replaced_during_the_week_is_queried(spark, tmp_path, monkeypatch, route):
    """A fetch renames a new feed into place after the gate read the old
    one, so the staging write parses the new feed. It has the old one's
    size and row count but repeats b: the gate's count proves nothing
    about it, and check_unique_ids queries staging."""
    feed = _fetch(tmp_path, [ORG_A, ORG_B, ORG_C], route)
    with open(feed, "rb") as f:
        old = f.read()
    a, b, c = old.splitlines(keepends=True)
    pad = len(a) - len(b)
    new = b + b"{" + b" " * pad + b[1:] + c
    assert len(new) == len(old)
    real = ror_pipeline.attach_ultimate_parent

    def attach(ror, result):
        with open(feed + ".new", "wb") as f:
            f.write(new)
        os.replace(feed + ".new", feed)
        return real(ror, result)

    monkeypatch.setattr(ror_pipeline, "attach_ultimate_parent", attach)
    p = RorPipeline(spark, str(tmp_path / "wh"))
    with pytest.raises(CheckFailed, match="duplicate ids"):
        p.run(feed)
    staged = sorted(r["id"] for r in spark.read.parquet(p.staging_path).collect())
    assert staged == [ORG_B["id"], ORG_B["id"], ORG_C["id"]]
    assert not os.path.exists(p.prod_path)


def _write_table(spark, path, ids):
    spark.createDataFrame([(i,) for i in ids], "id string").write.mode(
        "overwrite"
    ).parquet(path)


def test_checks_called_alone_read_the_tables(spark, tmp_path):
    """A fresh pipeline has no gate in hand: check_unique_ids queries
    staging with Spark, and check_monotonic_count counts staging's and
    prod's Parquet footers."""
    p = RorPipeline(spark, str(tmp_path / "wh"))
    _write_table(spark, p.staging_path, ["a", "b", "a"])
    with pytest.raises(CheckFailed, match="duplicate ids"):
        RorPipeline(spark, p.root).check_unique_ids()
    _write_table(spark, p.staging_path, ["a"])
    RorPipeline(spark, p.root).check_unique_ids()
    RorPipeline(spark, p.root).check_monotonic_count()  # no prod yet
    _write_table(spark, p.prod_path, ["a", "b", "c"])
    with pytest.raises(CheckFailed, match="staging count 1 < prod count 3"):
        RorPipeline(spark, p.root).check_monotonic_count()
    _write_table(spark, p.staging_path, ["a", "b", "c"])
    RorPipeline(spark, p.root).check_monotonic_count()


def test_footer_row_count_equals_spark_count(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(0, 1003, numPartitions=4).selectExpr("cast(id as string) id").write.parquet(path)
    names = os.listdir(path)
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    assert sum(n.endswith(".parquet") for n in names) == 4
    assert ror_pipeline._parquet_row_count(path) == spark.read.parquet(path).count() == 1003


@pytest.mark.parametrize(
    "case", ["rewritten", "rewritten-in-place", "foreign", "over-threshold"]
)
def test_spark_gates_a_feed_the_sidecar_does_not_vouch_for(spark, tmp_path, case):
    from ror_etl_spark.operators.rollup import LOCAL_THRESHOLD_CONF

    feed = _fetch(tmp_path, [ORG_A, ORG_B, ORG_C])
    orgs = [ORG_A, ORG_B, ORG_C]
    if case == "rewritten":
        orgs = [ORG_A, ORG_B, ORG_C, ORG_D_NON_ASCII]
        with open(feed, "w") as f:
            f.write("\n".join(json.dumps(o) for o in orgs))
    elif case == "rewritten-in-place":
        # same file, same size, same mtime: only the bytes tell. A stale
        # gate would map the new id to itself instead of to b.
        before = os.stat(feed)
        with open(feed, "r+b") as f:
            text = f.read()
            f.seek(0)
            f.write(text.replace(b'"id": "https://ror.org/a"', b'"id": "https://ror.org/x"'))
        os.utime(feed, ns=(before.st_atime_ns, before.st_mtime_ns))
        after = os.stat(feed)
        assert (after.st_size, after.st_mtime_ns, after.st_ino) == (
            before.st_size, before.st_mtime_ns, before.st_ino
        )
    elif case == "foreign":
        other = _fetch(tmp_path, [ORG_A, ORG_B, ORG_C, ORG_D_NON_ASCII], name="other.jsonl")
        shutil.copy(gate_path(other), gate_path(feed))
    else:
        spark.conf.set(LOCAL_THRESHOLD_CONF, "2")
    p = RorPipeline(spark, str(tmp_path / "wh"))
    try:
        jobs, _ = _jobs(spark, case, lambda: p.load_input(feed))
        result = p.run(feed)
    finally:
        spark.conf.unset(LOCAL_THRESHOLD_CONF)
    assert jobs > 0
    assert result["rows"] == len(orgs)
    assert result["strategy"] == ("doubling" if case == "over-threshold" else "single-task")
    up = {r["id"]: r["ultimate_parent"] for r in spark.read.parquet(p.prod_path).collect()}
    assert set(up.values()) == {"https://ror.org/b"}


def test_fetch_that_fails_keeps_the_feed_and_its_gate(tmp_path, monkeypatch):
    feed = _fetch(tmp_path, [ORG_A, ORG_B, ORG_C])
    before = (open(feed, "rb").read(), open(gate_path(feed), "rb").read())
    truncated = tmp_path / "truncated.json"
    truncated.write_text(json.dumps([ORG_A, ORG_B, ORG_D_NON_ASCII])[:-40])
    with pytest.raises(json.JSONDecodeError):
        fetch_to_jsonl(LocalDumpClient(str(truncated)), feed)
    assert (open(feed, "rb").read(), open(gate_path(feed), "rb").read()) == before
    assert read_gate(feed).n == 3
    assert sorted(os.listdir(tmp_path)) == sorted(
        ["dump-ror.jsonl", "ror.jsonl", ".ror.jsonl.gate", "truncated.json"]
    )

    # a crash between the two renames: the new gate's byte count and
    # checksum are the new feed's, so it is refused for the old feed
    import ror_etl_spark.sources.fetch as fetch_mod

    real_replace = os.replace

    def replace(src, dst):
        if dst == feed:
            raise OSError("injected crash before the feed's rename")
        return real_replace(src, dst)

    monkeypatch.setattr(fetch_mod.os, "replace", replace)
    longer = tmp_path / "longer.json"
    longer.write_text(json.dumps([ORG_A, ORG_B, ORG_C, ORG_D_NON_ASCII]))
    with pytest.raises(OSError, match="injected"):
        fetch_to_jsonl(LocalDumpClient(str(longer)), feed)
    assert open(feed, "rb").read() == before[0]
    assert open(gate_path(feed), "rb").read() != before[1]
    assert read_gate(feed) is None


@pytest.mark.parametrize(
    "odd, spark_id, spark_up",
    [
        # Spark reads the type 7 as the string "7": not a parent
        ({"relationships": [{"id": "https://ror.org/a", "type": 7}]},
         "https://ror.org/c", "https://ror.org/c"),
        # Spark reads a lone surrogate as "?"
        ({"id": "https://ror.org/c\udc00"}, "https://ror.org/c?", "https://ror.org/b"),
    ],
    ids=["non-string-type", "lone-surrogate"],
)
def test_dump_with_an_unvouched_record_leaves_no_sidecar(
    spark, tmp_path, odd, spark_id, spark_up
):
    feed = _fetch(tmp_path, [ORG_A, ORG_B, ORG_C])
    assert read_gate(feed) is not None
    dump = tmp_path / "odd.json"
    dump.write_text(json.dumps([ORG_A, ORG_B, {**ORG_C, **odd}]))
    fetch_to_jsonl(LocalDumpClient(str(dump)), feed)
    assert not os.path.exists(gate_path(feed))
    p = RorPipeline(spark, str(tmp_path / "wh"))
    jobs, _ = _jobs(spark, "unvouched", lambda: p.load_input(feed))
    assert jobs > 0
    result = p.run(feed)
    up = {r["id"]: r["ultimate_parent"] for r in spark.read.parquet(p.prod_path).collect()}
    assert result["rows"] == 3 and up[spark_id] == spark_up


@ROUTES
@pytest.mark.parametrize(
    "case", ["duplicate-id", "required-null-outranks-duplicate", "shrinking"]
)
def test_rejects_on_both_routes(spark, tmp_path, case, route):
    """The reject tests above, through fetch_to_jsonl: with the sidecar
    and with the Spark scan, the same error and prod left as it was."""
    wh = str(tmp_path / "wh")
    RorPipeline(spark, wh).run(_fetch(tmp_path, [ORG_A, ORG_B, ORG_C], name="good.jsonl"))
    prod_before = _tree(os.path.join(wh, "prod"))
    orgs, error, match = {
        "duplicate-id": ([ORG_A, ORG_B, ORG_C, ORG_A], DuplicateIdError, "ror.org/a"),
        "required-null-outranks-duplicate": (
            [{**ORG_A, "names": [{"value": None}]}, ORG_B, ORG_B, ORG_C],
            RequiredFieldViolation,
            "names",
        ),
        "shrinking": ([ORG_B], CheckFailed, "shrinking"),
    }[case]
    feed = _fetch(tmp_path, orgs, route)
    assert os.path.exists(gate_path(feed)) == (route == "fetched")
    with pytest.raises(error, match=match):
        RorPipeline(spark, wh).run(feed)
    assert _tree(os.path.join(wh, "prod")) == prod_before


# One mutation per kind the fetch's gate must agree with Spark on. Each
# takes (rng, orgs) and changes one org in place.
def _mutate_missing_vs_null(rng, orgs):
    org = rng.choice(orgs)
    key = rng.choice(["names", "relationships", "locations", "links", "external_ids"])
    if rng.random() < 0.5:
        org.pop(key, None)
    else:
        org[key] = None


def _mutate_null_element(rng, orgs):
    org = rng.choice(orgs)
    key = rng.choice(["names", "relationships", "locations", "links"])
    elems = list(org.get(key) or [])
    elems.insert(rng.randrange(len(elems) + 1), None)
    org[key] = elems


def _mutate_required_leaf(rng, orgs):
    org = rng.choice(orgs)
    arr, elem, leaf = rng.choice([
        ("names", {"value": "n", "lang": "en"}, "value"),
        ("links", {"type": "website", "value": "w"}, "type"),
        ("links", {"type": "website", "value": "w"}, "value"),
        ("locations", {"geonames_id": 3, "geonames_details": {"name": "t"}}, "geonames_id"),
        ("locations", {"geonames_id": 3, "geonames_details": {"name": "t"}}, "geonames_details"),
        ("external_ids", {"type": "grid", "all": ["g"]}, "type"),
    ])
    elem = json.loads(json.dumps(elem))
    if rng.random() < 0.5:
        del elem[leaf]
    else:
        elem[leaf] = None
    org[arr] = (org.get(arr) or []) + [elem]


def _mutate_details_name(rng, orgs):
    org = rng.choice(orgs)
    details = rng.choice([{"name": None, "lat": 1.5}, {"lat": 2}, None])
    org["locations"] = [{"geonames_id": 9, "geonames_details": details}]


def _mutate_parent_case(rng, orgs):
    org, target = rng.sample(orgs, 2)
    kind = rng.choice(["PaReNt", "PARENT", "parent", "Parent "])  # the last is no parent
    org["relationships"] = (org.get("relationships") or []) + [
        {"id": target.get("id"), "label": "", "type": kind}
    ]


def _mutate_parent_without_id(rng, orgs):
    # the last parent has no id: the org maps to itself, not to an earlier
    # parent, so pick one that has a parent already
    with_parent = [o for o in orgs if "parent" in json.dumps(o.get("relationships")).lower()]
    org = rng.choice(with_parent or orgs)
    org["relationships"] = (org.get("relationships") or []) + [
        rng.choice([{"type": "parent"}, {"id": None, "type": "parent", "label": "x"}])
    ]


def _mutate_non_string_type(rng, orgs):
    org = rng.choice(orgs)
    org["relationships"] = (org.get("relationships") or []) + [
        {"id": orgs[0].get("id"), "type": rng.choice([5, ["parent"], {"t": "parent"}, True])}
    ]


def _mutate_id(rng, orgs):
    org = rng.choice(orgs)
    u = rng.random()
    if u < 0.3:
        org["id"] = rng.choice(orgs)["id"]  # duplicate (or unchanged)
    elif u < 0.5:
        org["id"] = None
    elif u < 0.6:
        org.pop("id", None)
    else:
        org["id"] = rng.choice([42, 4.5, {"a": 1}, ["x"], False])


def _mutate_wrong_typed_leaf(rng, orgs):
    org = rng.choice(orgs)
    u = rng.random()
    if u < 0.4:
        org["locations"] = [{"geonames_id": rng.choice(["12", 1.5, 1 << 64]),
                             "geonames_details": {"name": "t"}}]
    elif u < 0.7:
        org["locations"] = [{"geonames_id": 1, "geonames_details": rng.choice(["Paris", [1]])}]
    else:
        org["names"] = [{"value": rng.choice([7, ["n"], {"v": 1}])}]


def _mutate_lone_surrogate(rng, orgs):
    org = rng.choice(orgs)
    if rng.random() < 0.5:
        org["id"] = org["id"] + "\ud800" if isinstance(org.get("id"), str) else "\udc00"
    else:
        org["relationships"] = [{"id": "https://ror.org/\ud83d", "type": "parent"}]


MUTATIONS = [
    _mutate_missing_vs_null, _mutate_null_element, _mutate_required_leaf,
    _mutate_details_name, _mutate_parent_case, _mutate_parent_without_id,
    _mutate_non_string_type, _mutate_id, _mutate_wrong_typed_leaf,
    _mutate_lone_surrogate,
]


def _fuzzed_orgs(seed):
    """A seeded registry of 6-14 orgs (chains, a cycle, ghost parents,
    last-parent-wins) with MUTATIONS[seed % len(MUTATIONS)] applied, and
    maybe one more."""
    rng = random.Random(seed)
    n = rng.randint(6, 14)
    ids = [f"https://ror.org/s{seed}n{i}" for i in range(n)]
    orgs = []
    for i in range(n):
        rels = [{"id": ids[rng.randrange(n)], "label": "", "type": "related"}]
        u = rng.random()
        if u < 0.5 and i:
            rels.append({"id": ids[rng.randrange(i)], "label": "", "type": "parent"})
        elif u < 0.6:
            rels.append({"id": "https://ror.org/ghost", "label": "", "type": "Parent"})
        elif u < 0.7:
            rels.append({"id": ids[(i + 1) % n], "label": "", "type": "PARENT"})
        rng.shuffle(rels)
        orgs.append({
            "id": ids[i],
            "status": "active",
            "names": [{"value": f"Org {i}", "types": ["label"], "lang": "en"}],
            "links": [{"type": "website", "value": f"https://o{i}.example"}],
            "locations": [{"geonames_id": i, "geonames_details": {"name": "T", "lat": 1.0}}],
            "relationships": rels,
            "external_ids": [{"type": "grid", "all": [f"g{i}"], "preferred": None}],
        })
    for mutate in [MUTATIONS[seed % len(MUTATIONS)]] + rng.sample(MUTATIONS, rng.randint(0, 1)):
        mutate(rng, orgs)
    return orgs


def _week(spark, wh, feed):
    """Run one week; the outcome is the error class, or everything the
    week wrote that a reader sees."""
    p = RorPipeline(spark, wh, run_date=datetime(2026, 8, 7))
    try:
        report = p.run(feed)
    except Exception as e:  # noqa: BLE001 - the class is the outcome
        return type(e).__name__, None
    staging = spark.read.parquet(p.staging_path)
    prod = spark.read.parquet(p.prod_path).select("id", "ultimate_parent")
    return "promoted", (
        {k: v for k, v in report.items() if k != "backup"},
        staging.schema,
        sorted(staging.toJSON().collect()),
        sorted(map(tuple, prod.collect()), key=repr),
    )


def test_fetched_gate_matches_the_spark_gate_on_fuzzed_dumps(spark, tmp_path):
    """Seeded fuzzed dumps, each fetched once and run twice on a copy of
    the same prod: with the fetch's sidecar and with it deleted. Both
    routes reject with the same error class, prod byte-identical, or
    promote the same mapping, n_in_cycle and staging rows."""
    template = str(tmp_path / "template")
    RorPipeline(spark, template).run(_fetch(tmp_path, [ORG_B], name="seed.jsonl"))
    prod_before = _tree(os.path.join(template, "prod"))
    seen = set()
    for seed in range(2 * len(MUTATIONS)):
        feed = _fetch(tmp_path, _fuzzed_orgs(seed), name=f"fuzz{seed}.jsonl")
        vouched = os.path.exists(gate_path(feed))
        outcomes = {}
        for route in ("fetched", "scanned"):
            if route == "scanned" and vouched:
                os.remove(gate_path(feed))
            wh = str(tmp_path / f"wh{seed}-{route}")
            shutil.copytree(template, wh)
            outcome, written = _week(spark, wh, feed)
            if written is None:
                assert _tree(os.path.join(wh, "prod")) == prod_before, (seed, route)
            outcomes[route] = (outcome, written)
        assert outcomes["fetched"] == outcomes["scanned"], seed
        seen.add((vouched, outcomes["fetched"][0]))
    # the seeds reach both routes and every outcome the fetched gate decides
    assert {
        (True, "promoted"),
        (True, "RequiredFieldViolation"),
        (True, "DuplicateIdError"),
        (False, "promoted"),
        (False, "Py4JJavaError"),
    } <= seen, seen
