"""The two closed-loop workloads: one client, the next op starts only
when the previous one finished.

Each workload builds its inputs from the seed, then runs ops for the
run's measuring window: op 0 is the cold first op of the fresh process,
the rest are warm. Every op is checked against ``replay`` outside its
timed region. ``ror_etl_spark`` is imported lazily, after ``run.py`` has
pinned the run shape in the environment.
"""

from __future__ import annotations

import os
import statistics
import time
import traceback
from datetime import datetime, timedelta

import gen
import replay

WEEKLY_ORGS = 16_000
BAD_EVERY = 5  # op i is a bad dump when i % BAD_EVERY == BAD_EVERY - 1
ROLLUP_ROWS = 120_000
# routes ROLLUP_ROWS to the distributed doubling path through the
# program's own adaptive router (its size threshold is a session conf)
ROLLUP_LOCAL_THRESHOLD = 40_000
WARMUP_OPS = 2  # op 0 (cold) and op 1 (settling) stay out of op_p50_s
# A floor on the op count that usually outlasts the window, so the op
# count, and with it how settled the ops behind the median are, does not
# follow the host's speed. Every weekly run meets one bad week, and
# op_p50_s has >= 3 samples.
MIN_OPS = 6
FIRST_WEEK = datetime(2026, 1, 2)

WEEKLY_STAGES = (
    "clear_tmp", "load_input", "add_ultimate_parent", "load_staging",
    "check_unique_ids", "check_monotonic_count", "promote", "backup",
)
ROLLUP_CALLS = ("ultimate_parent", "mapping_write", "n_in_cycle")

# Every per-layer metric, in BENCHMARK.json order. A traced run reports
# all of them; a layer the workload never calls reads 0.
PER_LAYER: dict[str, str] = {
    "session.get_spark_s": "s",
    "trace.op_p50_s": "s",
    "trace.span_cost_s": "s",
    "sources.fetch.fetch_to_jsonl_s": "s",
    "sources.fetch.fetch_to_jsonl.jobs": "count",
    **{
        f"plans.ror_pipeline.{stage}{suffix}": unit
        for stage in WEEKLY_STAGES
        for suffix, unit in (("_s", "s"), (".jobs", "count"))
    },
    "plans.ror_pipeline.rejected_week_s": "s",
    "plans.ror_pipeline.unattributed_s": "s",
    **{
        f"operators.rollup.{call}{suffix}": unit
        for call in ROLLUP_CALLS
        for suffix, unit in (("_s", "s"), (".jobs", "count"))
    },
    "operators.rollup.iterations": "count",
    "operators.rollup.shuffle_write_bytes": "bytes",
    "operators.rollup.task_s": "s",
}


class Window:
    """The measuring window: it opens when the cold op 0 has finished, so
    the cold op's duration does not change how many warm ops run. An op
    starts only if the last one's duration still fits; MIN_OPS always run."""

    def __init__(self, seconds: float):
        self.seconds = seconds
        self.t0 = 0.0

    def more(self, ops: list[dict]) -> bool:
        if len(ops) == 1:
            self.t0 = time.perf_counter()
        if len(ops) < MIN_OPS:
            return True
        return time.perf_counter() - self.t0 + ops[-1]["s"] <= self.seconds


class Result:
    def __init__(self, ops: list[dict], storage_amp: float, info: dict):
        self.ops = ops
        self.storage_amp = storage_amp
        self.info = info
        self.event_log: dict[str, float] = {}

    def warm_ops(self) -> list[dict]:
        """Ops behind op_p50_s: past the warm-up, and (weekly) good weeks
        only."""
        return [op for op in self.ops[WARMUP_OPS:] if op.get("kind") is None]

    def layer_metrics(self, tracer) -> dict[str, tuple[float, str]]:
        warm = {op["i"] for op in self.warm_ops()}
        out = {name: (0, unit) for name, unit in PER_LAYER.items()}
        for layer, (s, jobs) in tracer.medians(warm).items():
            out[f"{layer}_s"] = (s, "s")
            out[f"{layer}.jobs"] = (jobs, "count")
        spans_by_op: dict[int, float] = {}
        for span in tracer.spans:
            spans_by_op[span["op"]] = spans_by_op.get(span["op"], 0.0) + span["s"]
        warm_ops = self.warm_ops()
        out["trace.op_p50_s"] = (statistics.median(op["s"] for op in warm_ops), "s")
        out["trace.span_cost_s"] = (
            statistics.median(op["span_cost_s"] for op in warm_ops), "s"
        )
        if "plans.ror_pipeline.load_input" in {s["layer"] for s in tracer.spans}:
            out["plans.ror_pipeline.unattributed_s"] = (
                statistics.median(op["s"] - spans_by_op[op["i"]] for op in warm_ops), "s"
            )
            rejected = [op["s"] for op in self.ops if op.get("kind")]
            if rejected:
                out["plans.ror_pipeline.rejected_week_s"] = (statistics.median(rejected), "s")
        if "iterations" in self.info:
            out["operators.rollup.iterations"] = (self.info["iterations"], "count")
            for key in ("shuffle_write_bytes", "task_s"):
                out[f"operators.rollup.{key}"] = (
                    self.event_log.get(key, 0), PER_LAYER[f"operators.rollup.{key}"]
                )
        return out

    def add_event_log(self, tracer, totals: dict[str, dict[str, float]]) -> None:
        """Median over warm ops of the rollup call's shuffle bytes and
        task seconds (event-log totals per job group)."""
        warm = {op["i"] for op in self.warm_ops()}
        groups = [
            s["group"] for s in tracer.spans
            if s["layer"] == "operators.rollup.ultimate_parent" and s["op"] in warm
        ]
        if groups:
            for key in ("shuffle_write_bytes", "task_s"):
                self.event_log[key] = statistics.median(
                    totals.get(g, {}).get(key, 0.0) for g in groups
                )


def ror_weekly_refresh(spark, run_dir: str, seed: int, seconds: float, tracer) -> Result:
    """One op = one week: fetch the dump (zip holding one JSON array) to
    JSONL, then the gated pipeline. Good weeks reuse one dump; every
    BAD_EVERY-th week is a bad dump that must be rejected with prod left
    byte-identical."""
    from ror_etl_spark.operators.rollup import DuplicateIdError
    from ror_etl_spark.plans.ror_pipeline import CheckFailed, RorPipeline
    from ror_etl_spark.sources.fetch import LocalDumpClient, fetch_to_jsonl
    from ror_etl_spark.sources.ror_schema import RequiredFieldViolation

    expected_error = {
        "duplicate_id": DuplicateIdError,
        "required_null": RequiredFieldViolation,
        "shrinking": CheckFailed,
    }
    records = gen.registry_records(seed, WEEKLY_ORGS)
    lines = gen.record_lines(records)
    dumps = os.path.join(run_dir, "dumps")
    os.makedirs(dumps)
    good_zip = os.path.join(dumps, "good.zip")
    json_bytes = gen.write_dump_zip(good_zip, lines)
    expected = replay.expected_registry(records)
    root = os.path.join(run_dir, "ror")
    feed = os.path.join(run_dir, "feed", "ror.jsonl")
    os.makedirs(os.path.dirname(feed))

    ops: list[dict] = []
    storage_amp = None
    window = Window(seconds)
    while window.more(ops):
        i = len(ops)
        kind = None
        dump = good_zip
        if i % BAD_EVERY == BAD_EVERY - 1:
            kind = gen.BAD_KINDS[(seed + i // BAD_EVERY) % len(gen.BAD_KINDS)]
            dump = os.path.join(dumps, f"{kind}.zip")
            if not os.path.exists(dump):
                gen.write_dump_zip(dump, gen.bad_lines(kind, records, lines, seed))
        pipe = RorPipeline(spark, root, run_date=FIRST_WEEK + timedelta(weeks=i))
        prod_before = replay.tree_digest(os.path.join(root, "prod"))
        span_cost0 = tracer.cost_s
        outcome = None
        t0 = time.perf_counter()
        try:
            with tracer.span("sources.fetch.fetch_to_jsonl", i):
                fetch_to_jsonl(LocalDumpClient(dump), feed)
            if tracer.enabled:
                # run()'s stage order, one span per public stage call
                for stage in WEEKLY_STAGES:
                    with tracer.span(f"plans.ror_pipeline.{stage}", i):
                        if stage == "load_input":
                            ror = pipe.load_input(feed)
                        elif stage == "add_ultimate_parent":
                            ror = pipe.add_ultimate_parent(ror)
                        elif stage == "load_staging":
                            pipe.load_staging(ror)
                        else:
                            getattr(pipe, stage)()
            else:
                pipe.run(feed)
        except Exception as e:  # an op that fails counts as failed, the run goes on
            traceback.print_exc()
            outcome = e
        dt = time.perf_counter() - t0
        op = {"i": i, "kind": kind, "s": dt, "span_cost_s": tracer.cost_s - span_cost0}
        if kind is None:
            op["success"] = outcome is None
            if outcome is not None:
                op["outcome"] = repr(outcome)
            prod = os.path.join(root, "prod", "ror")
            op["correct"] = op["success"] and (
                replay.mapping_matches(prod, ("id", "ultimate_parent"), expected)
                and replay.tree_digest(prod) == replay.tree_digest(pipe.backup_path())
            )
            if op["success"]:
                storage_amp = (
                    replay.tree_bytes(pipe.staging_path)
                    + replay.tree_bytes(prod)
                    + replay.tree_bytes(pipe.backup_path())
                ) / os.path.getsize(feed)
        else:
            op["outcome"] = type(outcome).__name__ if outcome else "promoted"
            op["success"] = isinstance(outcome, expected_error[kind])
            op["correct"] = op["success"] and (
                replay.tree_digest(os.path.join(root, "prod")) == prod_before
            )
        ops.append(op)
    return Result(
        ops,
        storage_amp or 0.0,
        {"input_rows": WEEKLY_ORGS, "input_json_bytes": json_bytes,
         "bad_every": BAD_EVERY},
    )


def rollup_at_scale(spark, run_dir: str, seed: int, seconds: float, tracer) -> Result:
    """One op: read the (id, parent) parquet, ``ultimate_parent(edges,
    check_every=2)`` as the pipeline calls it, write the mapping to
    parquet, read ``n_in_cycle``."""
    from ror_etl_spark.operators.rollup import LOCAL_THRESHOLD_CONF, ultimate_parent

    ids, parents = gen.rollup_edges(seed, ROLLUP_ROWS)
    edges_path = os.path.join(run_dir, "edges.parquet")
    gen.write_edges_parquet(edges_path, ids, parents)
    want_up, want_cycle = replay.doubling(ids.astype(str), parents.astype(str))
    expected = dict(zip(ids.astype(str).tolist(), want_up.tolist()))
    spark.conf.set(LOCAL_THRESHOLD_CONF, str(ROLLUP_LOCAL_THRESHOLD))
    out_path = os.path.join(run_dir, "mapping.parquet")

    ops: list[dict] = []
    strategies = set()
    iterations = set()
    window = Window(seconds)
    while window.more(ops):
        i = len(ops)
        span_cost0 = tracer.cost_s
        t0 = time.perf_counter()
        try:
            with tracer.span("operators.rollup.ultimate_parent", i):
                result = ultimate_parent(spark.read.parquet(edges_path), check_every=2)
            with tracer.span("operators.rollup.mapping_write", i):
                result.mapping.write.mode("overwrite").parquet(out_path)
            with tracer.span("operators.rollup.n_in_cycle", i):
                n_in_cycle = result.n_in_cycle
        except Exception as e:  # an op that fails counts as failed, the run goes on
            traceback.print_exc()
            ops.append({"i": i, "s": time.perf_counter() - t0, "span_cost_s": 0.0,
                        "outcome": repr(e), "success": False, "correct": False})
            continue
        dt = time.perf_counter() - t0
        strategies.add(result.strategy)
        iterations.add(result.iterations)
        op = {"i": i, "s": dt, "span_cost_s": tracer.cost_s - span_cost0,
              "strategy": result.strategy, "iterations": result.iterations}
        op["success"] = result.strategy == "doubling"
        op["correct"] = (
            n_in_cycle == want_cycle
            and replay.mapping_matches(out_path, ("id", "ultimate_parent"), expected)
        )
        ops.append(op)
    return Result(
        ops,
        replay.tree_bytes(out_path) / os.path.getsize(edges_path),
        {"input_rows": ROLLUP_ROWS, "input_parquet_bytes": os.path.getsize(edges_path),
         "local_threshold": ROLLUP_LOCAL_THRESHOLD, "n_in_cycle": want_cycle,
         "strategy": sorted(strategies), "iterations": max(iterations, default=0)},
    )


WORKLOADS = {
    "ror_weekly_refresh": ror_weekly_refresh,
    "rollup_at_scale": rollup_at_scale,
}
