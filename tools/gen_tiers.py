"""Regenerate the /tmp decade tier dirs behind several SCALING.md
tables. The tier runner for registered queries is
``tools/measure.py --sf-dir <tier dir> --queries a,b,c``. The /tmp dirs
do NOT survive between sessions, and earlier rounds rebuilt them with
ad-hoc inline snippets — this commits the recipe so tier rows stay
comparable across rounds.

Shapes mirror the real testdata (documented in SCALING.md r11):

- events decade ``ev-1m/10m/100m``: deterministic congruential
  generator, ~70 events/user, the real 5 uniform event types, value
  domain 0..560.21 at 2 dp (~56k distinct), ts uniform over the real
  30-day January-2024 window at microsecond grain, props ``{"k": int}``.
- ``tpch10``: the sf0.1 star schema with orders/lineitem/customer/
  supplier/part replicated 10x (keys offset per replica so joins fan
  out instead of collapsing); nation/region/documents/embeddings copied
  through unchanged (bounded domains).
- ``emb10x``: embeddings.parquet replicated 10x with offset vec_ids.

Usage:

    python tools/gen_tiers.py --events --tpch --emb
"""

from __future__ import annotations

import argparse
import os
import shutil

import duckdb

SF01 = "/root/testdata/sf0.1"
EV_TIERS = [
    ("/tmp/sparkgraft_ev1m", 1_000_000),
    ("/tmp/sparkgraft_ev10m", 10_000_000),
    ("/tmp/sparkgraft_ev100m", 100_000_000),
]
TPCH10_DIR = "/tmp/sparkgraft_tpch10"
EMB10X_DIR = "/tmp/sparkgraft_emb10x"

# epoch micros of 2024-01-01; the real events table spans ~30 days
_EPOCH_US = 1_704_067_200_000_000
_SPAN_US = 30 * 86_400 * 1_000_000


def gen_events(out_dir: str, n: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    n_users = max(1, n // 70)
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
          SELECT CAST(range AS BIGINT) AS event_id,
                 make_timestamp({_EPOCH_US}
                   + (range * 2654435761) % {_SPAN_US}) AS ts,
                 CAST((range * 48271) % {n_users} AS BIGINT) AS user_id,
                 ['signup','click','purchase','view','error']
                   [1 + (range * 7919) % 5] AS event_type,
                 CAST((range * 104729) % 56022 AS DOUBLE) / 100.0 AS value,
                 '{{"k": ' || CAST((range * 31) % 100 AS VARCHAR) || '}}'
                   AS props
          FROM range({n})
        ) TO '{out_dir}/events.parquet' (FORMAT PARQUET)
        """
    )
    print(f"gen_events: {out_dir} n={n:,d} users={n_users:,d}", flush=True)


_REPL = {
    "orders": {
        "o_orderkey": 100_000_000,
        "o_custkey": 10_000_000,
    },
    "lineitem": {
        "l_orderkey": 100_000_000,
        "l_suppkey": 10_000_000,
        "l_partkey": 10_000_000,
    },
    "customer": {"c_custkey": 10_000_000},
    "supplier": {"s_suppkey": 10_000_000},
    "part": {"p_partkey": 10_000_000},
}
_COPY_THROUGH = ["nation", "region", "documents", "embeddings"]


def gen_tpch10(out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    for t, offsets in _REPL.items():
        src = f"{SF01}/{t}.parquet"
        cols = [r[0] for r in con.execute(
            f"DESCRIBE SELECT * FROM '{src}'"
        ).fetchall()]
        sel = ", ".join(
            f"{c} + r.range * {offsets[c]} AS {c}" if c in offsets else c
            for c in cols
        )
        con.execute(
            f"""
            COPY (
              SELECT {sel} FROM '{src}' CROSS JOIN range(10) r
            ) TO '{out_dir}/{t}.parquet' (FORMAT PARQUET)
            """
        )
        print(f"gen_tpch10: {t} x10", flush=True)
    for t in _COPY_THROUGH:
        shutil.copyfile(f"{SF01}/{t}.parquet", f"{out_dir}/{t}.parquet")
    # events copies through too (ops on this tier that touch events keep
    # the real distribution; the events decade is the dedicated scale
    # path for events-sized ops)
    shutil.copyfile(f"{SF01}/events.parquet", f"{out_dir}/events.parquet")


def gen_emb10x(out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
          SELECT vec_id + r.range * 10000000 AS vec_id, embedding, label
          FROM '{SF01}/embeddings.parquet' CROSS JOIN range(10) r
        ) TO '{out_dir}/embeddings.parquet' (FORMAT PARQUET)
        """
    )
    for t in ["nation", "region", "documents"]:
        shutil.copyfile(f"{SF01}/{t}.parquet", f"{out_dir}/{t}.parquet")
    print(f"gen_emb10x: {out_dir}", flush=True)


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", action="store_true")
    ap.add_argument("--tpch", action="store_true")
    ap.add_argument("--emb", action="store_true")
    args = ap.parse_args()
    if args.events:
        for d, n in EV_TIERS:
            gen_events(d, n)
    if args.tpch:
        gen_tpch10(TPCH10_DIR)
    if args.emb:
        gen_emb10x(EMB10X_DIR)
    if not (args.events or args.tpch or args.emb):
        print("pass --events/--tpch/--emb")
