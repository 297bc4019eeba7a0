"""Per-query measurement harness for registered queries.

For each query: time DataFrame construction (Python+analysis), first noop
write (includes optimization+codegen), and best-of-N steady-state noop
writes; with ``--plans DIR``, also dump .explain("formatted") to
DIR/<name>_<tag>.txt. ``--sf-dir`` points it at any testdata dir,
including the decade tiers that gen_tiers builds.

Usage:
  python tools/measure.py --tag before [--queries a,b,c] [--repeat 3]
                          [--sf-dir DIR] [--plans DIR] [--conf k=v ...]
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ror_etl_spark import registry  # noqa: E402
from ror_etl_spark.session import get_spark  # noqa: E402

_CKPT_CONF = "spark.ror.ordered.checkpoint"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--tag", default="before")
    ap.add_argument("--queries", default="")
    ap.add_argument("--repeat", type=int, default=3)
    ap.add_argument("--plans", metavar="DIR", default="",
                    help="write each query's formatted plan to DIR")
    ap.add_argument("--conf", action="append", default=[])
    args = ap.parse_args()

    import bench

    registry.load_all()
    names = args.queries.split(",") if args.queries else list(bench.HEADLINE)

    extra = dict(kv.split("=", 1) for kv in args.conf)
    spark = get_spark("measure", extra_conf=extra)
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)

    # warm up
    spark.read.parquet(os.path.join(args.sf_dir, "nation.parquet")).count()

    out = {}
    for name in names:
        fn = registry.QUERIES[name]
        spark.sparkContext.setJobDescription(name)
        t0 = time.perf_counter()
        df = fn(spark, args.sf_dir)
        t_build = time.perf_counter() - t0
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t_first = time.perf_counter() - t0
        best = None
        for _ in range(max(1, args.repeat)):
            t0 = time.perf_counter()
            fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        out[name] = {
            "build_s": round(t_build, 3),
            "first_s": round(t_first, 3),
            "best_s": round(best, 3),
        }
        if args.plans:
            # ordered()'s checkpoint would hide the upstream plan behind an
            # RDD scan; turn it off for explain(), then restore the
            # caller's setting even if explain() raises.
            prev = spark.conf.get(_CKPT_CONF, None)
            spark.conf.set(_CKPT_CONF, "false")
            buf = io.StringIO()
            try:
                with contextlib.redirect_stdout(buf):
                    fn(spark, args.sf_dir).explain("formatted")
            finally:
                if prev is None:
                    spark.conf.unset(_CKPT_CONF)
                else:
                    spark.conf.set(_CKPT_CONF, prev)
            with open(os.path.join(args.plans, f"{name}_{args.tag}.txt"), "w") as f:
                f.write(buf.getvalue())
        spark.sparkContext.setJobDescription(None)
        print(json.dumps({name: out[name]}), flush=True)

    total_best = round(sum(v["best_s"] for v in out.values()), 3)
    print(json.dumps({"tag": args.tag, "total_best": total_best, "n": len(out)}))


if __name__ == "__main__":
    main()
