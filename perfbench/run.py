"""Benchmark entry point: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload ror_weekly_refresh --seed 1 \
        --seconds 15 --trace 0

Run from the root of a checkout. The program under test (the
``ror_etl_spark`` package beside this directory) is imported and called
through its public functions; nothing in it is edited or patched.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
ones (job groups per call, event log on). Everything the run writes lives
in a scratch directory under ``.perfbench_runs/`` that is removed at exit.
The last stdout line is the result object; the line before it is the
self-describing artifact (host shape, inputs, op log).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import probes  # noqa: E402
import workloads  # noqa: E402

SETUPS = 3  # set-ups per run; setup_s reports their median
DRIVER_MEM = "1g"


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def source_digest() -> str:
    """Digest of the program's source files: names the code version even
    where the checkout is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "ror_etl_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(d, f)
                h.update(os.path.relpath(path, ROOT).encode() + b"\0")
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None  # not a git checkout; never look at enclosing directories
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def stop_spark(spark) -> None:
    """Stop the session AND its gateway JVM, and wait for the JVM (and
    with it the Python workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    except Exception:  # gateway broken by an interrupted call: the JVM still goes below
        traceback.print_exc()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while len(probes.tree_pids(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "ror_etl_spark", "__init__.py")):
        print(f"perfbench: no ror_etl_spark package under {ROOT}", file=sys.stderr)
        return 2

    run_dir = os.path.join(
        ROOT, ".perfbench_runs", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local", "events"):
        os.makedirs(os.path.join(run_dir, sub))
    # pin the run shape to the host before the program reads it
    cpus = host_cpus()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # a fixed heap cap keeps the JVM's opportunistic heap growth (and with
    # it peak_rss_mb) from depending on the host's free memory
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    # keep both JVMs (spark-submit's launcher and the driver) off /tmp
    jvm_opts = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    load_start = os.getloadavg()

    extra_conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": jvm_opts,
    }
    if args.trace:
        extra_conf["spark.eventLog.enabled"] = "true"
        extra_conf["spark.eventLog.dir"] = os.path.join(run_dir, "events")
        extra_conf["spark.eventLog.compress"] = "false"
        extra_conf["spark.eventLog.rolling.enabled"] = "false"

    # a terminated run still stops its JVM and removes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spark = None
    try:
        # --- set-up: package import once, then SETUPS fresh-JVM sessions
        t0 = time.perf_counter()
        sys.path.insert(0, ROOT)
        from ror_etl_spark import session

        import_s = time.perf_counter() - t0
        get_spark_s = []
        for k in range(SETUPS):
            if spark is not None:
                stop_spark(spark)
            t0 = time.perf_counter()
            spark = session.get_spark("perfbench", extra_conf=extra_conf)
            get_spark_s.append(time.perf_counter() - t0)

        workload = workloads.WORKLOADS[args.workload]
        with probes.RssSampler() as rss:
            tracer = probes.Tracer(spark, enabled=bool(args.trace))
            res = workload(spark, run_dir, args.seed, args.seconds, tracer)
            stop_spark(spark)
            spark = None
        if args.trace:
            res.add_event_log(tracer, probes.event_log_totals(os.path.join(run_dir, "events")))
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
            parent = os.path.dirname(run_dir)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)

    ops = res.ops
    attempted = len(ops)
    n_success = sum(op["success"] for op in ops)
    n_correct = sum(op["correct"] for op in ops)
    setup_s = import_s + statistics.median(get_spark_s)
    if args.trace:
        metrics = res.layer_metrics(tracer)
        metrics["session.get_spark_s"] = (statistics.median(get_spark_s), "s")
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "first_op_s": (ops[0]["s"], "s"),
            "op_p50_s": (statistics.median(op["s"] for op in res.warm_ops()), "s"),
            "peak_rss_mb": (rss.peak / 2**20, "MB"),
            "storage_amp": (res.storage_amp, "ratio"),
            "op_success_ratio": (n_success / attempted, "ratio"),
            "correct_ratio": (n_correct / attempted, "ratio"),
        }
    artifact = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": cpus,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
        "commit": git_commit(),
        "source_digest": source_digest(),
        "import_s": import_s,
        "get_spark_s": get_spark_s,
        "warm_ops_in_median": len(res.warm_ops()),
        "peak_rss_mb_by_role": {k: v / 2**20 for k, v in rss.at_peak.items()},
        **res.info,
        "ops": ops,
    }
    print(json.dumps({"artifact": artifact}))
    print(
        json.dumps(
            {
                "correct": n_correct == attempted and n_success == attempted,
                "attempted": attempted,
                "failed": sum(not (op["success"] and op["correct"]) for op in ops),
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
