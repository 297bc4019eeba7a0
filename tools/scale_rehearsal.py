"""Scale rehearsal: measure the heaviest query families ONE decade past
the bench tier (sf0.1 → sf≈1) so the 100 TB claim rests on a measured
two-decade trend instead of a single 10× step (VERDICT r4 top item).

``--gen`` synthesizes a 10× documents/embeddings corpus at
/tmp/sparkgraft_sf1 drawn from the same generative family as the driver
data (same 31-word vocabulary, 10-100 word lengths, same lang/source
marginals, same planted exact-duplicate RATE, unit-normalized 64-dim
embeddings with the same weak cluster structure plus a linear rate of
planted near-dup twins) — matching the distribution keeps candidate-pair
densities honest, whereas replicating rows 10× would square the
similarity-join output and fake a superlinear blowup. Remaining tables
are symlinked from sf0.1 so multi-table queries resolve.

``--run`` times the heavy families at sf0.1 and sf1 (best-of-2,
noop-write materialization) and prints the 10× step ratio per query.
NOTE: best-of-N is WARM for queries that cache an internal frame (the
minhash family) — Spark's CacheManager matches the rebuilt logical plan
across reps. For cold numbers clear the cache between reps as the
round-6 cold matrix in SCALING.md does.

Usage:
    python tools/scale_rehearsal.py --gen
    python tools/scale_rehearsal.py --run
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF1_DIR = "/tmp/sparkgraft_sf1"
SF01_DIR = "/root/testdata/sf0.1"

N_DOCS = 50_000  # 10x sf0.1
N_VECS = 20_000  # 10x sf0.1
DIM = 64

VOCAB = [
    "the", "line", "small", "group", "spark", "fast", "customer", "batch",
    "data", "sort", "value", "hash", "filter", "big", "dup", "part", "scan",
    "slow", "agg", "key", "window", "table", "merge", "join", "query", "row",
    "stream", "column", "order", "a", "vector",
]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_W = [0.41, 0.15, 0.15, 0.15, 0.14]

HEAVY = [
    "dedup_winnow_pairs",
    "dedup_prefix_filter_jaccard",
    "dedup_minhash_lsh",
    "dedup_minhash_lsh_tuned",
    "dedup_exact_substring_pairs",
    "dedup_ngram_jaccard",
    "dedup_exact",
    "embedding_near_dup_pairs",
    "embedding_near_dup_pairs_tuned",
    "embedding_cosine_topk",
    "multimodal_decode_stats",
    "multimodal_frame_sample_stats",  # documents-based like the rest;
    # fuzzy_dedup_sorted_neighborhood is excluded: it reads `part`, which
    # is symlinked (not scaled) at sf1, so its ratio would be meaningless
    "llm_corpus_pipeline",
    "text_boilerplate_ngrams",
    "text_token_stats",
    "text_winnow_fingerprints",
]


def gen(
    out_dir: str = SF1_DIR,
    n_docs: int = N_DOCS,
    n_vecs: int = N_VECS,
    seed: int = 4242,
    vocab: str = "closed",
    boiler_frac: float = 0.0,
) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    # --- documents ---
    lengths = rng.integers(10, 101, size=n_docs)
    if vocab == "heaps":
        # Zipf-ranked words give a Heaps-law vocabulary (distinct words
        # ~ N^(1/a)): the realistic web-corpus regime. The driver's
        # CLOSED 31-word vocabulary saturates the 3-gram shingle space
        # (31^3 grams all occur by sf1), which makes exact all-pairs
        # candidate growth quadratic BY CONSTRUCTION; this mode exists to
        # measure the same queries when per-shingle document frequency
        # stays long-tail instead (SCALING.md round-6 section).
        ranks = rng.zipf(1.3, size=int(lengths.sum()))
        toks = np.char.add("w", ranks.astype(str))
    else:
        word_idx = rng.integers(0, len(VOCAB), size=int(lengths.sum()))
        toks = np.array(VOCAB, dtype=object)[word_idx]
    texts: list[str] = []
    pos = 0
    for n in lengths:
        texts.append(" ".join(toks[pos : pos + n]))
        pos += n
    if boiler_frac > 0.0:
        # plant VIRAL BOILERPLATE: a fixed ≥32-char header on a large
        # fraction of documents — the skew scenario the exact-substring
        # hot-gram cap exists for (df ~ frac·n ≫ cap, pair output would
        # be (frac·n)² without the ceiling). Planted BEFORE duplicate
        # copying so the planted dup rate is unchanged.
        hit = rng.random(n_docs) < boiler_frac
        for j in range(n_docs):
            if hit[j]:
                texts[j] = BOILER + " " + texts[j]
    # planted exact duplicates at the sf0.1 rate (8 pairs / 5000 docs)
    n_dup_pairs = round(n_docs * 8 / 5000)
    dup_src = rng.choice(n_docs, size=2 * n_dup_pairs, replace=False)
    for a, b in dup_src.reshape(-1, 2):
        texts[b] = texts[a]
    langs = rng.choice(LANGS, size=n_docs, p=LANG_W)
    sources = np.array([f"src{i}" for i in rng.integers(0, 20, size=n_docs)])
    tbl = pa.table(
        {
            "doc_id": pa.array(range(n_docs), type=pa.int64()),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(langs.tolist(), type=pa.string()),
            "source": pa.array(sources.tolist(), type=pa.string()),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )
    pq.write_table(tbl, os.path.join(out_dir, "documents.parquet"))

    # --- embeddings: weak 10-cluster structure on the unit sphere, plus a
    # linear rate of planted near-dup twins (vec + small noise) ---
    labels = rng.integers(0, 10, size=n_vecs)
    centroids = rng.normal(0, 0.07, size=(10, DIM))
    V = centroids[labels] + rng.normal(0, 0.125, size=(n_vecs, DIM))
    n_twin = round(n_vecs * 10 / 2000)  # ~10 planted twins per 2000 at sf0.1
    twin_src = rng.choice(n_vecs, size=2 * n_twin, replace=False).reshape(-1, 2)
    for a, b in twin_src:
        V[b] = V[a] + rng.normal(0, 0.01, size=DIM)
    V = V / np.linalg.norm(V, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(range(n_vecs), type=pa.int64()),
            "embedding": pa.array(
                [row.astype(np.float32) for row in V], type=pa.list_(pa.float32())
            ),
            "label": pa.array(labels.astype("int32"), type=pa.int32()),
        }
    )
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))

    # --- remaining tables: symlink from sf0.1 ---
    for name in (
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events",
    ):
        dst = os.path.join(out_dir, f"{name}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(SF01_DIR, f"{name}.parquet"), dst)
    print(f"wrote {out_dir}: {n_docs} docs, {n_vecs} vecs")


def run(queries: list[str] | None = None, lo_dir: str = SF01_DIR, hi_dir: str = SF1_DIR, labels: tuple[str, str] = ("sf0.1", "sf1")) -> None:
    from ror_etl_spark import registry
    from ror_etl_spark.session import get_spark

    registry.load_all()
    spark = get_spark("scale-rehearsal")
    spark.read.parquet(os.path.join(SF01_DIR, "nation.parquet")).count()

    print(f"{'query':35s} {labels[0]:>7s} {labels[1]:>7s}  step")
    rows = []
    for name in (queries or HEAVY):
        fn = registry.QUERIES[name]
        times = []
        for sf_dir in (lo_dir, hi_dir):
            best = None
            for _ in range(2):
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            times.append(best)
        ratio = times[1] / max(times[0], 1e-9)
        rows.append((name, times[0], times[1], ratio))
        print(f"{name:35s} {times[0]:7.2f} {times[1]:7.2f}  x{ratio:.1f}")
    worst = max(rows, key=lambda r: r[3])
    print(f"\nworst step: {worst[0]} x{worst[3]:.1f}")


def kernel(n: int = 20_000_000, depth: int = 100) -> None:
    """Re-run the synthetic fixpoint-rollup tier (NOTES.md kernel table)
    with the current kernel: n nodes in chains of the given depth, built
    from spark.range (no fixture dependence), correctness asserted by
    closed form (root of id is id - id % depth)."""
    from pyspark.sql import functions as F

    from ror_etl_spark.operators.rollup import ultimate_parent
    from ror_etl_spark.session import get_spark

    spark = get_spark("kernel-scale")
    edges = spark.range(n).select(
        F.col("id"),
        F.when(F.col("id") % depth == 0, F.col("id"))
        .otherwise(F.col("id") - 1)
        .alias("parent"),
    )
    t0 = time.perf_counter()
    res = ultimate_parent(edges, max_depth=depth, check_every=2)
    bad = res.mapping.filter(
        F.col("ultimate_parent") != F.col("id") - F.col("id") % depth
    ).count()
    wall = time.perf_counter() - t0
    print(
        f"kernel: n={n:,} depth={depth} iterations={res.iterations} "
        f"wall={wall:.1f}s wrong_roots={bad}"
    )
    assert bad == 0


def sn(n: int = 5_000_000) -> None:
    """Scale tier for the r5 distributed sorted-neighborhood rewrite
    (queries/dedup.py): 5M synthetic part names (the registered query's
    input is `part`, which the corpus generator doesn't scale), run the
    REGISTERED query untouched against a tmp table dir, and cross-check
    pair count + total distance against DuckDB computing the same
    neighborhood with its own global window — an independent engine, so
    partition-boundary pair loss (the failure mode the overlap frame
    exists to prevent) cannot hide."""
    import duckdb
    from pyspark.sql import functions as F

    from ror_etl_spark import registry
    from ror_etl_spark.session import get_spark

    registry.load_all()
    spark = get_spark("sn-scale")
    sn_dir = "/tmp/sparkgraft_sn"
    os.makedirs(sn_dir, exist_ok=True)
    path = os.path.join(sn_dir, "part.parquet")
    if not os.path.exists(path):
        # names sort like ids but with digit-carry near-misses, so the
        # lead-window distances are non-trivial (1..len on carry runs)
        spark.range(n).select(
            F.col("id").alias("p_partkey"),
            F.format_string("n%09d", F.col("id")).alias("p_name"),
        ).coalesce(8).write.mode("overwrite").parquet(path)

    fn = registry.QUERIES["fuzzy_dedup_sorted_neighborhood"]
    t0 = time.perf_counter()
    got = fn(spark, sn_dir).agg(
        F.count(F.lit(1)).alias("n_pairs"), F.sum("dist").alias("sum_dist")
    ).collect()[0]
    wall = time.perf_counter() - t0
    exp = duckdb.sql(
        f"""
        WITH s AS (
          SELECT p_partkey, p_name,
                 lead(p_name, 1) OVER (ORDER BY p_name, p_partkey) AS nn1,
                 lead(p_name, 2) OVER (ORDER BY p_name, p_partkey) AS nn2
          FROM read_parquet('{path}/*.parquet'))
        SELECT count(*) AS n_pairs, sum(dist) AS sum_dist FROM (
          SELECT levenshtein(p_name, nn1) AS dist FROM s WHERE nn1 IS NOT NULL
          UNION ALL
          SELECT levenshtein(p_name, nn2) FROM s WHERE nn2 IS NOT NULL)
        WHERE dist BETWEEN 1 AND 5
        """
    ).fetchone()
    ok = (got["n_pairs"], int(got["sum_dist"])) == (exp[0], int(exp[1]))
    print(
        f"sorted-neighborhood: n={n:,} pairs={got['n_pairs']:,} "
        f"sum_dist={int(got['sum_dist'])} wall={wall:.1f}s "
        f"duckdb_match={ok}"
    )
    assert ok, (got, exp)


SF10_DIR = "/tmp/sparkgraft_sf10"
OV_LO_DIR = "/tmp/sparkgraft_ov_lo"
OV_HI_DIR = "/tmp/sparkgraft_ov_hi"

BOILER = "follow us on social media and subscribe to our newsletter for updates"

OV_XHI_DIR = "/tmp/sparkgraft_ov_xhi"  # 500k docs, Heaps vocab (3rd decade)
OVB_HI_DIR = "/tmp/sparkgraft_ovb_hi"  # 50k docs + 20% viral boilerplate
OVB_XHI_DIR = "/tmp/sparkgraft_ovb_xhi"  # 500k docs + 20% viral boilerplate

# r7 third-decade targets: the surprisal filters and the exact-substring
# family (pairs/spans/report), the two families added in r6/r7.
R7_FAMILIES = [
    "llm_unigram_surprisal_filter",
    "llm_bigram_surprisal_filter",
    "dedup_exact_substring_pairs",
    "dedup_exact_substring_spans",
    "dedup_hot_gram_report",
]
R7_BOILER = [
    "dedup_exact_substring_pairs",
    "dedup_exact_substring_spans",
    "dedup_hot_gram_report",
]



# Session-5 decades: the new operators read events / lineitem / part, so
# they ride the dedicated events decade (1M/10M/100M, generated in
# session 3 for join_cardinality_estimate), the tpch10 lineitem tier,
# and a fresh part decade (the only new synthesis here — retailprice
# uniform on the real [900, 2000) domain, size 1..50, so the skyline's
# per-cost aggregate keeps its domain-bounded cardinality).
EV_TIERS = [("ev-1m", "/tmp/sparkgraft_ev1m"), ("ev-10m", "/tmp/sparkgraft_ev10m"),
            ("ev-100m", "/tmp/sparkgraft_ev100m")]
TPCH10_DIR = "/tmp/sparkgraft_tpch10"
PART_MID_DIR = "/tmp/sparkgraft_part200k"
PART_BIG_DIR = "/tmp/sparkgraft_part2m"


def gen_part(out_dir: str, n: int, seed: int) -> None:
    import duckdb

    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
          SELECT CAST(range + 1 AS BIGINT) AS p_partkey,
                 CAST(900 + ((range * 7919 + {seed}) % 110000) / 100.0
                      AS DECIMAL(12,2)) AS p_retailprice,
                 CAST(1 + (range * 104729) % 50 AS INTEGER) AS p_size
          FROM range({n})
        ) TO '{out_dir}/part.parquet' (FORMAT PARQUET)
        """
    )
    print(f"gen_part: {out_dir} n={n}")


def run_cold(queries: list[str], tiers: list[tuple[str, str]]) -> None:
    """COLD-first timing (the honest one-shot-pass number): clear the
    cache before the first rep, report cold and the warm best-of-2."""
    from ror_etl_spark import registry
    from ror_etl_spark.session import get_spark

    registry.load_all()
    spark = get_spark("scale-rehearsal-r7")
    spark.read.parquet(os.path.join(SF01_DIR, "nation.parquet")).count()

    # "best" = min(cold, warm): under an ambient load spike the second
    # rep can exceed the cold first run, so the column is best-of-2, not
    # a guaranteed cache-warm steady state
    hdr = " ".join(f"{lbl + ' cold':>12s} {lbl + ' best':>12s}" for lbl, _ in tiers)
    print(f"{'query':32s} {hdr}")
    for name in queries:
        fn = registry.QUERIES[name]
        cells = []
        for lbl, sf_dir in tiers:
            print(f"  ... {name} @ {lbl}", flush=True)
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            cold = time.perf_counter() - t0
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            warm = time.perf_counter() - t0
            cells.append(f"{cold:12.2f} {min(cold, warm):12.2f}")
        print(f"{name:32s} {' '.join(cells)}")


# r7b (this session's additions): the corpus mixture/selection ops —
# token-explode aggregates (lang weights aggregate per-row, BM25 filters
# the explode to query terms, DSIR joins tokens back to a two-LM count
# table) — measured across the closed-vocab decade AND the open-vocab
# third decade (where the token join can no longer broadcast a 31-word
# vocabulary and must degrade to a shuffle join).
R7B_FAMILIES = [
    "corpus_language_sampling_weights",
    "text_bm25_topk",
    "llm_dsir_importance_weights",
]


def semdedup_scale() -> None:
    """SemDeDup decade: registered shape at sf0.1 (2k vecs, k=16), then
    the SCALED-k configuration at sf1/sf10 (20k/200k vecs, k=64/256 —
    SemDeDup's own prescription that cluster count grows with the corpus
    so cell occupancy, the unit of quadratic verify work, stays
    bounded). Also re-times sf1 at the UNSCALED k=16 to show the knob is
    what holds the decade step down."""
    from ror_etl_spark.operators.similarity import semdedup_prune
    from ror_etl_spark.session import get_spark

    spark = get_spark("semdedup-scale")
    tiers = [
        ("sf0.1(2k,k=16)", SF01_DIR, 16),
        ("sf1(20k,k=16)", SF1_DIR, 16),
        ("sf1(20k,k=64)", SF1_DIR, 64),
        ("sf10(200k,k=256)", SF10_DIR, 256),
    ]
    for lbl, sf_dir, k in tiers:
        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        out = semdedup_prune(
            emb, threshold=0.4, n_centroids=k, train_iters=3, round_means=6
        )
        n_pruned = out.filter("pruned").count()
        wall = time.perf_counter() - t0
        print(f"{lbl:20s} cold={wall:7.2f}s pruned={n_pruned}", flush=True)


# The exact-similarity families whose closed-vocab candidate growth is
# quadratic by construction (SCALING.md r5 diagnosis): measured across an
# open-vocabulary decade to show the quadratic regime is the vocabulary
# artifact, not the plan.
OPEN_VOCAB = [
    "dedup_prefix_filter_jaccard",
    "dedup_winnow_pairs",
    "dedup_ngram_jaccard",
]

# Third decade (sf1 → sf≈10): only the families whose r5 plans are
# expected ~linear — the quadratic-candidate regimes under the closed
# testdata vocabulary (prefix filter, winnow pairs, LSH near-dup at
# fixed bucket width) are diagnosed in SCALING.md and measured through
# the second decade; re-measuring them at 10x the saturated corpus
# would take minutes to confirm what the candidate-count math already
# states.
LINEAR = [
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "text_token_stats",
    "text_boilerplate_ngrams",
    "embedding_cosine_topk",
    "llm_corpus_pipeline",
]


def graph_scale(skew_only: bool = False) -> None:
    """Decade rows for the r9 iterative graph operators (VERDICT r8
    items 2/7) at synthetic 10^7 -> 10^8 EDGE tiers — the registered
    queries bind to the 25-node nation graph, so like the G1 ``--kernel``
    tier this measures the underlying per-round loop shape at the scale
    the 100x claim is about. Deterministic hash-generated graphs (no
    parquet, no RNG state): N = E/10 nodes, uniform endpoints for the
    decade rows, plus a POWER-LAW tier (v = floor(N * r^3), ~cubic hub
    concentration) that isolates the skewed-key dimension with AQE
    skew-join on vs off.

    Per-kernel validation is printed with the wall time: depth layers
    against the chain closed form, k-core against the min in-core
    degree >= k invariant, LPA label sanity + community count.
    Checkpoint cadence matches the staged queries: every round's
    node-sized frame is localCheckpointed so the logical plan stays
    linear in rounds, and the SUPERSEDED checkpoint is unpersisted the
    moment its successor materializes — live heap is one und frame plus
    two node-sized frames, not rounds x frames. (The first run of this
    tier OOMed at the 8g default heap precisely because 8 rounds of
    20M-row deserialized checkpoints accumulated; the fix is the
    unpersist cadence below plus an 80g heap floor, both of which a real
    cluster gets for free from executor-distributed storage.)"""
    import math

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ror_etl_spark.session import get_spark

    os.environ.setdefault("SPARK_DRIVER_MEM", "80g")
    spark = get_spark("graph-scale")
    # GRAPH_REHEARSAL_DIV=1000 shrinks every tier for a logic smoke run;
    # the recorded decade rows always use the default 1.
    div = max(1, int(os.environ.get("GRAPH_REHEARSAL_DIV", "1")))

    def ckpt_swap(new_df, old_df):
        """localCheckpoint new_df eagerly, then release old_df's blocks."""
        out = new_df.localCheckpoint(eager=True)
        if old_df is not None:
            old_df.unpersist()
        return out

    def uniform_edges(E: int, N: int):
        e = spark.range(E)
        u = ((F.xxhash64("id") % N) + N) % N
        v = ((F.xxhash64("id", F.lit(1)) % N) + N) % N
        return e.select(u.alias("u"), v.alias("v")).filter("u <> v")

    def powerlaw_edges(E: int, N: int):
        e = spark.range(E)
        u = ((F.xxhash64("id") % N) + N) % N
        r = (((F.xxhash64("id", F.lit(1)) % 1000003) + 1000003) % 1000003) / 1000003.0
        v = F.floor(N * F.pow(r, F.lit(3.0))).cast("long")
        return e.select(u.alias("u"), v.alias("v")).filter("u <> v")

    def lpa_rounds(und, N: int, rounds: int = 3):
        nodes = spark.range(N).select(F.col("id"))
        labels = nodes.select("id", F.col("id").alias("label"))
        for _ in range(rounds):
            votes = (
                und.join(labels, und["v"] == labels["id"])
                .groupBy(und["u"].alias("nid"), "label")
                .agg(F.sum("w").alias("wt"))
            )
            pick = (
                votes.withColumn(
                    "rn",
                    F.row_number().over(
                        Window.partitionBy("nid").orderBy(F.desc("wt"), F.asc("label"))
                    ),
                )
                .filter(F.col("rn") == 1)
                .select("nid", "label")
            )
            labels = ckpt_swap(
                nodes.join(pick, nodes["id"] == pick["nid"], "left").select(
                    "id", F.coalesce(pick["label"], nodes["id"]).alias("label")
                ),
                labels,  # unpersist is a no-op on the initial uncached frame
            )
        return labels

    def kcore_rounds(und, k: int = 8, rounds: int = 6):
        surv = und.select(F.col("u").alias("id")).distinct()
        for _ in range(rounds):
            surv = ckpt_swap(
                und.join(surv.withColumnRenamed("id", "u"), "u")
                .join(surv.withColumnRenamed("id", "v"), "v")
                .groupBy("u")
                .agg(F.count(F.lit(1)).alias("deg"))
                .filter(F.col("deg") >= k)
                .select(F.col("u").alias("id")),
                surv,
            )
        return (
            und.join(surv.withColumnRenamed("id", "u"), "u")
            .join(surv.withColumnRenamed("id", "v"), "v")
            .groupBy("u")
            .agg(F.count(F.lit(1)).alias("core_degree"))
        )

    if not skew_only:
        # ---- depth-layers kernel (pointer doubling with hop counts) ----
        # 20M nodes, chains of depth 100 — the G1 kernel tier, now
        # carrying steps; ceil(log2 100) = 7 doubling rounds.
        N, D = 20_000_000 // div, 100
        t0 = time.perf_counter()
        nodes = spark.range(N)
        m = nodes.select(
            F.col("id"),
            F.when(F.col("id") % D == 0, F.col("id"))
            .otherwise(F.col("id") - 1)
            .alias("anc"),
            F.when(F.col("id") % D == 0, F.lit(0)).otherwise(F.lit(1))
            .cast("long")
            .alias("steps"),
        ).localCheckpoint(eager=True)
        for _ in range(math.ceil(math.log2(D))):
            hop = m.select(
                F.col("id").alias("h_id"),
                F.col("anc").alias("h_anc"),
                F.col("steps").alias("h_steps"),
            )
            m = ckpt_swap(
                m.join(hop, m["anc"] == hop["h_id"], "left").select(
                    m["id"],
                    F.coalesce(hop["h_anc"], m["anc"]).alias("anc"),
                    (m["steps"] + F.coalesce(hop["h_steps"], F.lit(0))).alias(
                        "steps"
                    ),
                ),
                m,
            )
        wrong = m.filter(F.col("steps") != F.col("id") % D).count()
        m.unpersist()
        wall = time.perf_counter() - t0
        print(
            f"depth_layers_kernel  n={N} depth={D} rounds={math.ceil(math.log2(D))} "
            f"wall={wall:.1f}s wrong_layers={wrong}",
            flush=True,
        )

        # ---- LPA + k-core decade: uniform 1e7 -> 1e8 edges ----
        for E in (10_000_000 // div, 100_000_000 // div):
            N = E // 10
            t0 = time.perf_counter()
            ed = uniform_edges(E, N)
            und = (
                ed.unionAll(ed.select(F.col("v").alias("u"), F.col("u").alias("v")))
                .groupBy("u", "v")
                .agg(F.count(F.lit(1)).alias("w"))
                .localCheckpoint(eager=True)
            )
            n_und = und.count()
            t_derive = time.perf_counter() - t0

            t0 = time.perf_counter()
            labels = lpa_rounds(und, N, rounds=3)
            n_comm = labels.agg(F.countDistinct("label")).first()[0]
            bad = labels.filter((F.col("label") < 0) | (F.col("label") >= N)).count()
            labels.unpersist()
            t_lpa = time.perf_counter() - t0

            t0 = time.perf_counter()
            core = kcore_rounds(und.select("u", "v"), k=8, rounds=6)
            stats = core.agg(
                F.count(F.lit(1)).alias("n_core"),
                F.min("core_degree").alias("min_deg"),
            ).first()
            t_kcore = time.perf_counter() - t0
            und.unpersist()
            print(
                f"graph_decade E={E:>11,d} N={N:>10,d} und_rows={n_und:,d} "
                f"derive={t_derive:.1f}s lpa3={t_lpa:.1f}s (comm={n_comm:,d} bad={bad}) "
                f"kcore6={t_kcore:.1f}s (core={stats['n_core']:,d} "
                f"min_deg={stats['min_deg']})",
                flush=True,
            )

    # ---- power-law skew tier: hub-node rehearsal (VERDICT item 7) ----
    # v = floor(N*r^3) puts ~10% of all edges on node 0 alone; the LPA
    # vote join on the neighbour key is then textbook skew. Run one vote
    # round with AQE skew-join ON vs OFF and report both walls plus the
    # realized hub mass.
    E, N = 100_000_000 // div, 10_000_000 // div
    ed = powerlaw_edges(E, N)
    und = (
        ed.unionAll(ed.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
        .localCheckpoint(eager=True)
    )
    hub = (
        und.groupBy("v").agg(F.sum("w").alias("deg")).orderBy(F.desc("deg")).limit(3)
    ).collect()
    print(
        "powerlaw hubs (v, incident edge mass): "
        + ", ".join(f"({r['v']}, {r['deg']:,d})" for r in hub),
        flush=True,
    )
    order = ("true", "false")
    if os.environ.get("GRAPH_SKEW_ORDER", "tf") == "ft":
        order = ("false", "true")  # flipped: separates first-run warmup
    for skew_flag in order:
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skew_flag)
        t0 = time.perf_counter()
        labels = lpa_rounds(und, N, rounds=1)
        labels.write.format("noop").mode("overwrite").save()
        labels.unpersist()
        wall = time.perf_counter() - t0
        print(f"lpa1_powerlaw E={E:,d} skewJoin={skew_flag} wall={wall:.1f}s", flush=True)
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")


def graph_r10_scale() -> None:
    """Decade rows for the two r10 iterative graph operators (VERDICT r9
    item 2) at synthetic 10^7 -> 10^8 EDGE tiers, before/as they
    register: multi-source BFS (``graph_diameter_trade``'s per-round
    shape — frontier x rounds is the most expansion-prone new kernel)
    and per-node triangle credit (``clustering_coefficient_nations``).
    Deterministic hash-generated graphs as in ``graph_scale`` (N = E/10
    nodes, uniform endpoints, avg undirected degree ~20).

    The registered 25-node queries use the compact full-reaggregate BFS
    (dist U ext -> groupBy min); this tier runs the FRONTIER-DELTA form
    (expand only last round's discoveries, anti-join out re-visits) the
    docstring promises for production, with S sampled sources so state
    is S x N, and validates the result in-run: (a) reached counts per
    round are monotone, (b) zero BFS-property violations — every
    settled (src, node, d>0) must have a neighbour settled at d-1.

    Triangle credit runs the registered a<b two-path + closing-edge
    join unchanged and cross-checks the per-node credit sum against an
    INDEPENDENT degree-ordered-orientation triangle count (different
    join tree, same graph) — 3 x T_oriented == sum(credits) or the row
    is marked invalid.

    Checkpoint cadence: every per-round frame is localCheckpointed
    DISK_ONLY (the r9 endurance rule, tests/test_checkpoint_discipline.py)
    and the superseded checkpoint is unpersisted as its successor
    materializes."""
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from ror_etl_spark.session import get_spark

    os.environ.setdefault("SPARK_DRIVER_MEM", "80g")
    spark = get_spark("graph-r10-scale")
    div = max(1, int(os.environ.get("GRAPH_REHEARSAL_DIV", "1")))
    # sampled BFS sources (production regime for diameter/ecc): keep S
    # CONSTANT across tiers so the decade ratio is per-edge work, and
    # small enough that peak frontier state (<= S x N rows) fits the
    # single-host rehearsal (S=32 at 1e8 edges OOMed: ~250M-row frontier
    # x 20 expansion = 5e9-row shuffle; a real cluster distributes this,
    # the tier just needs a measurable slope).
    # E:S pairs — per-source state and shuffle volume scale with S, so
    # the big tier uses fewer sampled sources (constant per-source work
    # is the decade metric; the S=8-vs-32 pair at 1e7 separately shows
    # the linear-in-S behavior). The 1e8/S=8 attempt exhausted the
    # host's ~48 GB free disk with per-round shuffle files.
    tiers = [
        (int(e), int(s))
        for e, s in (
            x.split(":")
            for x in os.environ.get(
                "GRAPH_SCALE_TIERS", "10000000:8,100000000:2"
            ).split(",")
        )
    ]

    def ckpt_swap(new_df, old_df):
        out = new_df.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
        if old_df is not None:
            old_df.unpersist()
        return out

    def uniform_edges(E: int, N: int):
        e = spark.range(E)
        u = ((F.xxhash64("id") % N) + N) % N
        v = ((F.xxhash64("id", F.lit(1)) % N) + N) % N
        return e.select(u.alias("u"), v.alias("v")).filter("u <> v")

    for E0, S in tiers:
        E = E0 // div
        N = E // 10
        t0 = time.perf_counter()
        ed = uniform_edges(E, N)
        sym = (
            ed.unionAll(ed.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .distinct()
            .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
        )
        n_sym = sym.count()
        t_derive = time.perf_counter() - t0

        # ---- multi-source frontier-delta BFS ----
        t0 = time.perf_counter()
        stride = max(1, N // S)
        frontier = (
            spark.range(S)
            .select((F.col("id") * stride).alias("src"))
            .filter(F.col("src") < N)
            .select("src", F.col("src").alias("node"), F.lit(0).alias("d"))
        )
        settled = ckpt_swap(frontier, None)
        frontier = settled
        reached_log = []
        rounds = 0
        for _ in range(12):
            ext = (
                frontier.join(sym, frontier["node"] == sym["u"])
                .select("src", F.col("v").alias("node"), (F.col("d") + 1).alias("d"))
                .distinct()
                .join(settled.select("src", "node"), on=["src", "node"], how="left_anti")
            )
            ext = ckpt_swap(ext, frontier if rounds > 0 else None)
            n_ext = ext.count()
            rounds += 1
            if n_ext == 0:
                ext.unpersist()
                break
            settled = ckpt_swap(settled.unionByName(ext), settled)
            frontier = ext
            reached_log.append(n_ext)
            import gc as _gc

            _gc.collect()
            spark.sparkContext._jvm.System.gc()
        n_settled = settled.count()
        # BFS property: every settled (src,node,d>0) has a neighbour at d-1
        inner = settled.filter(F.col("d") > 0)
        parents = settled.select(
            F.col("src").alias("p_src"),
            F.col("node").alias("p_node"),
            F.col("d").alias("p_d"),
        )
        violations = (
            inner.join(sym, inner["node"] == sym["v"])
            .join(
                parents,
                (F.col("p_src") == inner["src"])
                & (F.col("p_node") == sym["u"])
                & (F.col("p_d") == inner["d"] - 1),
                "left_semi",
            )
        )
        # left_semi keeps rows WITH a valid parent; violations = inner minus those
        ok = violations.select("src", "node", "d").distinct().count()
        n_inner = inner.count()
        bad_bfs = n_inner - ok
        t_bfs = time.perf_counter() - t0
        ecc = settled.groupBy("src").agg(F.max("d").alias("ecc"))
        diam_lb = ecc.agg(F.max("ecc")).first()[0]
        settled.unpersist()
        print(
            f"msbfs_decade E={E:>11,d} N={N:>10,d} S={S} rounds={rounds} "
            f"wall={t_bfs:.1f}s derive={t_derive:.1f}s settled={n_settled:,d} "
            f"bfs_violations={bad_bfs} diam_lb={diam_lb} "
            f"frontier_log={reached_log}",
            flush=True,
        )

        # ---- per-node triangle credit (registered a<b join shape) ----
        t0 = time.perf_counter()
        und = (
            sym.filter(F.col("u") < F.col("v"))
            .select(F.col("u").alias("a"), F.col("v").alias("b"))
            .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
        )
        e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
        credit = (
            e1.join(e2, F.col("e2.a") == F.col("e1.b"))
            .join(
                e3,
                (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
            )
            .select(
                F.explode(
                    F.array(F.col("e1.a"), F.col("e1.b"), F.col("e2.b"))
                ).alias("node")
            )
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("triangles"))
        )
        credit_sum = credit.agg(F.sum("triangles")).first()[0] or 0
        t_tri = time.perf_counter() - t0

        # independent cross-check: degree-ordered orientation count
        t0 = time.perf_counter()
        deg = (
            und.select(F.col("a").alias("n"))
            .unionAll(und.select(F.col("b").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("dg"))
        )
        da = deg.select(F.col("n").alias("a"), F.col("dg").alias("dg_a"))
        db = deg.select(F.col("n").alias("b"), F.col("dg").alias("dg_b"))
        oriented = (
            und.join(da, "a")
            .join(db, "b")
            .select(
                F.when(
                    (F.col("dg_a") < F.col("dg_b"))
                    | ((F.col("dg_a") == F.col("dg_b")) & (F.col("a") < F.col("b"))),
                    F.struct(F.col("a").alias("x"), F.col("b").alias("y")),
                )
                .otherwise(F.struct(F.col("b").alias("x"), F.col("a").alias("y")))
                .alias("e")
            )
            .select("e.x", "e.y")
            .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
        )
        o1, o2 = oriented.alias("o1"), oriented.alias("o2")
        # wedge at low-degree apex x: (x->y1, x->y2), closed by edge in
        # EITHER orientation between y1 and y2
        wedges = o1.join(o2, (F.col("o1.x") == F.col("o2.x")) & (F.col("o1.y") < F.col("o2.y")))
        closing = oriented.select(
            F.col("x").alias("c1"), F.col("y").alias("c2")
        ).unionAll(oriented.select(F.col("y").alias("c1"), F.col("x").alias("c2")))
        t_oriented = (
            wedges.join(
                closing,
                (F.col("c1") == F.col("o1.y")) & (F.col("c2") == F.col("o2.y")),
                "left_semi",
            ).count()
        )
        t_tri2 = time.perf_counter() - t0
        und.unpersist()
        oriented.unpersist()
        sym.unpersist()
        valid = credit_sum == 3 * t_oriented
        print(
            f"tricredit_decade E={E:>11,d} N={N:>10,d} "
            f"registered_shape={t_tri:.1f}s credit_sum={credit_sum:,d} "
            f"oriented_check={t_tri2:.1f}s triangles={t_oriented:,d} "
            f"valid={valid}",
            flush=True,
        )


def graph_1b_probe() -> None:
    """10^9-edge single-kernel probe (VERDICT r9 item 7 stretch): ONE
    synchronous LPA vote round on a uniform hash-generated graph with
    1e9 directed edges / 1e8 nodes — a third decade on the graph story.
    One round only: the decade SLOPE is what the row is for (the
    per-round loop shape is identical at any round count), and a full
    multi-round run at this tier would spend an hour measuring the same
    two shuffles ten times. In-run validation: labels stay inside the
    node domain and the vote output is node-sized. DISK_ONLY eager
    checkpoint on the undirected edge frame; shuffle partitions are
    raised to keep ~2 GB/partition at the 1e9 tier."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from ror_etl_spark.session import get_spark

    os.environ.setdefault("SPARK_DRIVER_MEM", "100g")
    spark = get_spark("graph-1b")
    spark.conf.set("spark.sql.shuffle.partitions", "256")
    div = max(1, int(os.environ.get("GRAPH_REHEARSAL_DIV", "1")))
    E, N = 1_000_000_000 // div, 100_000_000 // div

    t0 = time.perf_counter()
    e = spark.range(E)
    und = (
        e.select(
            (((F.xxhash64("id") % N) + N) % N).alias("u"),
            (((F.xxhash64("id", F.lit(1)) % N) + N) % N).alias("v"),
        )
        .filter("u <> v")
        # SKIP the groupBy(u, v) weight dedup the small tiers do: at 1e9
        # rows it is a second full shuffle that measures the same thing
        # as the vote join; multi-edges just act as integer weights.
        .withColumn("w", F.lit(1))
        .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    )
    n_e = und.count()
    t_derive = time.perf_counter() - t0

    t0 = time.perf_counter()
    labels = spark.range(N).select(F.col("id"), F.col("id").alias("label"))
    votes = (
        und.join(labels, und["v"] == labels["id"])
        .groupBy(und["u"].alias("nid"), "label")
        .agg(F.sum("w").alias("wt"))
    )
    pick = (
        votes.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("nid").orderBy(F.desc("wt"), F.asc("label"))
            ),
        )
        .filter(F.col("rn") == 1)
        .select("nid", "label")
    )
    stats = pick.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when((F.col("label") < 0) | (F.col("label") >= N), 1).otherwise(0)
        ).alias("bad"),
    ).first()
    t_lpa = time.perf_counter() - t0
    und.unpersist()
    print(
        f"lpa1_1b E={n_e:,d} N={N:,d} derive={t_derive:.1f}s "
        f"lpa1={t_lpa:.1f}s voted_nodes={stats['n']:,d} bad={stats['bad']}",
        flush=True,
    )



def cc_1b_probe() -> None:
    """Second 10^9-edge kernel probe (VERDICT r10 item 7 stretch): ONE
    hash-min connected-components round on the same uniform
    hash-generated graph as ``graph_1b_probe`` (1e9 directed edges /
    1e8 nodes) — widens the third decade beyond LPA with the OTHER
    fixpoint kernel family (min-propagation instead of mode-vote). One
    round: labels start as node ids, each node takes min(own, all
    neighbours') over the symmetrized edge view — per round exactly one
    edges⋈labels shuffle and one min-aggregate, the loop body of
    ``operators/components.py:connected_components``. In-run
    validation: output is node-sized, every new label is a valid node
    id, and new_label <= node id everywhere (min-propagation can only
    decrease — a violated row means the aggregate mixed keys)."""
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from ror_etl_spark.session import get_spark

    os.environ.setdefault("SPARK_DRIVER_MEM", "100g")
    spark = get_spark("cc-1b")
    spark.conf.set("spark.sql.shuffle.partitions", "256")
    div = max(1, int(os.environ.get("GRAPH_REHEARSAL_DIV", "1")))
    E, N = 1_000_000_000 // div, 100_000_000 // div

    t0 = time.perf_counter()
    e = spark.range(E)
    und = (
        e.select(
            (((F.xxhash64("id") % N) + N) % N).alias("u"),
            (((F.xxhash64("id", F.lit(1)) % N) + N) % N).alias("v"),
        )
        .filter("u <> v")
        .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    )
    n_e = und.count()
    t_derive = time.perf_counter() - t0

    t0 = time.perf_counter()
    # symmetrize in the select (no second checkpoint): each directed
    # edge contributes min-candidates in both directions
    cand = und.select(F.col("u").alias("nid"), F.col("v").alias("cand")).unionAll(
        und.select(F.col("v").alias("nid"), F.col("u").alias("cand"))
    )
    new_labels = cand.groupBy("nid").agg(
        F.least(F.min("cand"), F.col("nid")).alias("label")
    )
    stats = new_labels.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when((F.col("label") < 0) | (F.col("label") >= N), 1).otherwise(0)
        ).alias("bad"),
        F.sum(F.when(F.col("label") > F.col("nid"), 1).otherwise(0)).alias(
            "increased"
        ),
        F.sum(F.when(F.col("label") < F.col("nid"), 1).otherwise(0)).alias(
            "decreased"
        ),
    ).first()
    t_cc = time.perf_counter() - t0
    und.unpersist()
    print(
        f"cc1_1b E={n_e:,d} N={N:,d} derive={t_derive:.1f}s "
        f"cc1={t_cc:.1f}s nodes={stats['n']:,d} bad={stats['bad']} "
        f"increased={stats['increased']} decreased={stats['decreased']:,d}",
        flush=True,
    )


def pr_1b_probe() -> None:
    """Third 10^9-edge kernel probe (VERDICT r11 item 8 stretch): ONE
    damped PageRank rank-flow round on the same uniform hash-generated
    graph as ``graph_1b_probe``/``cc_1b_probe`` (1e9 directed edges /
    1e8 nodes) — completes the third-decade kernel triptych: mode-vote
    (LPA), min-propagation (CC), and now RANK-FLOW, the loop body of
    ``queries/engineops.py:pagerank_nation_trade`` at six orders of
    magnitude more edges. Pre-step: the out-degree aggregate (timed
    separately — at a real deployment it is computed once and reused
    across all iterations). Round: contribution r(u)/deg(u) flows along
    every edge, sums per target, and damps with teleport 0.15/N; nodes
    with no in-edges keep the teleport base via a right join against
    the node domain. In-run validation: output is node-sized, no rank
    below the teleport base (flow is non-negative), and total mass
    <= 1 + eps (rank-flow conserves mass up to dangling-node loss —
    a sum above 1 means the aggregate double-counted)."""
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from ror_etl_spark.session import get_spark

    os.environ.setdefault("SPARK_DRIVER_MEM", "100g")
    spark = get_spark("pr-1b")
    spark.conf.set("spark.sql.shuffle.partitions", "256")
    div = max(1, int(os.environ.get("GRAPH_REHEARSAL_DIV", "1")))
    E, N = 1_000_000_000 // div, 100_000_000 // div

    t0 = time.perf_counter()
    e = spark.range(E)
    und = (
        e.select(
            (((F.xxhash64("id") % N) + N) % N).alias("u"),
            (((F.xxhash64("id", F.lit(1)) % N) + N) % N).alias("v"),
        )
        .filter("u <> v")
        .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    )
    n_e = und.count()
    t_derive = time.perf_counter() - t0

    t0 = time.perf_counter()
    deg = (
        und.groupBy("u")
        .agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    )
    n_deg = deg.count()
    t_deg = time.perf_counter() - t0

    t0 = time.perf_counter()
    base = 0.15 / N
    # uniform start: r(u) = 1/N, so the flow join carries a literal —
    # the round's cost is the edges-side shuffle, identical to any
    # later iteration where r is a node-sized frame
    flow = (
        und.join(deg, "u")
        .select("v", (F.lit(1.0 / N) / F.col("d")).alias("c"))
        .groupBy("v")
        .agg(F.sum("c").alias("fin"))
    )
    nodes = spark.range(N).select(F.col("id").alias("v"))
    ranks = nodes.join(flow, "v", "left").select(
        "v",
        (F.lit(base) + 0.85 * F.coalesce(F.col("fin"), F.lit(0.0))).alias("r"),
    )
    stats = ranks.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("r") < base - 1e-15, 1).otherwise(0)).alias("bad"),
        F.sum("r").alias("mass"),
    ).first()
    t_pr = time.perf_counter() - t0
    und.unpersist()
    deg.unpersist()
    print(
        f"pr1_1b E={n_e:,d} N={N:,d} derive={t_derive:.1f}s "
        f"deg={t_deg:.1f}s (out_nodes={n_deg:,d}) pr1={t_pr:.1f}s "
        f"nodes={stats['n']:,d} bad={stats['bad']} mass={stats['mass']:.6f}",
        flush=True,
    )




def ecc_1e8_probe() -> None:
    """Sampled-source eccentricity / diameter lower bound at 10^8 edges
    (VERDICT r11 item 8 stretch, second half): K = 4 deterministic
    sources, frontier-delta multi-source BFS run to EXHAUSTION on the
    symmetrized uniform hash graph (1e8 directed edges / 1e7 nodes,
    same generator family as the 1e9 kernel probes). Eccentricity of a
    source = its final BFS height; max over sources is the standard
    sampled lower bound on the graph diameter (exact all-pairs is
    O(V*E) and never runs at this scale; sampled-source ecc is what
    production graph stacks ship). In-run validation: frontiers are
    disjoint from visited by construction (anti-join), per-source
    reached counts must agree across sources up to isolated-node loss
    (a uniform graph at mean degree 20 has one giant component), and
    the height must stay O(log N / log deg) ~ 6-8 rounds — a dropped
    frontier or broken anti-join shows up as a wrong reached count,
    not a silent timing number."""
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from ror_etl_spark.session import get_spark

    os.environ.setdefault("SPARK_DRIVER_MEM", "100g")
    spark = get_spark("ecc-1e8")
    spark.conf.set("spark.sql.shuffle.partitions", "128")
    disk = StorageLevel.DISK_ONLY
    div = max(1, int(os.environ.get("GRAPH_REHEARSAL_DIV", "1")))
    E, N = 100_000_000 // div, 10_000_000 // div
    sources = [0, N // 3, 2 * N // 3, N - 1]

    t0 = time.perf_counter()
    e = spark.range(E)
    fwd = e.select(
        (((F.xxhash64("id") % N) + N) % N).alias("u"),
        (((F.xxhash64("id", F.lit(1)) % N) + N) % N).alias("v"),
    ).filter("u <> v")
    und = (
        fwd.unionAll(fwd.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .localCheckpoint(eager=True, storageLevel=disk)
    )
    n_e = und.count()
    t_derive = time.perf_counter() - t0

    src_df = spark.createDataFrame(
        [(s,) for s in sources], "s long"
    ).select("s", F.col("s").alias("v"))
    visited = src_df.select("s", "v", F.lit(0).alias("d")).localCheckpoint(
        eager=True, storageLevel=disk
    )
    frontier = visited.select("s", "v")
    d = 0
    heights: dict[int, int] = {}
    while True:
        d += 1
        t0 = time.perf_counter()
        nxt = (
            frontier.join(und, frontier["v"] == und["u"])
            .select("s", und["v"].alias("v"))
            .distinct()
            .join(visited.select("s", "v"), ["s", "v"], "left_anti")
            .localCheckpoint(eager=True, storageLevel=disk)
        )
        n_new = nxt.count()
        t_round = time.perf_counter() - t0
        print(
            f"ecc1e8 round={d} new={n_new:,d} wall={t_round:.1f}s",
            flush=True,
        )
        if n_new == 0:
            break
        old = visited
        visited = visited.unionAll(
            nxt.select("s", "v", F.lit(d).alias("d"))
        ).localCheckpoint(eager=True, storageLevel=disk)
        visited.count()
        old.unpersist()
        frontier = nxt.select("s", "v")
        if d > 40:
            print("ecc1e8 ABORT: >40 rounds (expected ~6-8)", flush=True)
            break
    stats = (
        visited.groupBy("s")
        .agg(F.max("d").alias("ecc"), F.count(F.lit(1)).alias("reached"))
        .orderBy("s")
        .collect()
    )
    per_src = ", ".join(
        f"s={r['s']}: ecc={r['ecc']} reached={r['reached']:,d}" for r in stats
    )
    diam_lb = max(r["ecc"] for r in stats)
    spread = max(r["reached"] for r in stats) - min(r["reached"] for r in stats)
    print(
        f"ecc1e8 E={n_e:,d} N={N:,d} derive={t_derive:.1f}s K={len(sources)} "
        f"[{per_src}] diameter_lb={diam_lb} reached_spread={spread}",
        flush=True,
    )


def bfs_expander_scale() -> None:
    """Decade tier for the driver-gated iterative kernel
    ``bfs_distances_synthetic_10k`` (VERDICT r10 item 3): the SAME
    frontier-delta BFS shape (expand last round's discoveries, distinct,
    anti-join re-visits, DISK_ONLY checkpoints) on the same deterministic
    expander family (i -> 2i+1, i -> 3i+7 mod p, symmetrized) at p =
    10^4, 10^5, 10^6, 10^7 nodes (edges ~= 4p). In-run validation per
    tier: every node reached (the expander is connected), frontier
    growth monotone until the peak, and the BFS height stays O(log p)
    (doubling map + affine mixing — height ~ log2(p)), so a wrong
    anti-join or a dropped frontier shows up as unreached nodes, not as
    a silent timing number."""
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from ror_etl_spark.session import get_spark

    os.environ.setdefault("SPARK_DRIVER_MEM", "48g")
    spark = get_spark("bfs-expander-scale")
    disk = StorageLevel.DISK_ONLY
    tiers = [
        int(x)
        for x in os.environ.get(
            "BFS_EXPANDER_TIERS", "10007,100003,1000003,10000019"
        ).split(",")
    ]
    for p in tiers:
        t0 = time.perf_counter()
        ids = spark.range(p).select(F.col("id").alias("i"))
        fwd = (
            ids.select(F.col("i").alias("u"), ((2 * F.col("i") + 1) % p).alias("v"))
            .unionAll(
                ids.select(
                    F.col("i").alias("u"), ((3 * F.col("i") + 7) % p).alias("v")
                )
            )
            .filter(F.col("u") != F.col("v"))
        )
        e = (
            fwd.unionAll(fwd.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .distinct()
            .localCheckpoint(eager=True, storageLevel=disk)
        )
        n_e = e.count()
        t_derive = time.perf_counter() - t0
        t0 = time.perf_counter()
        frontier = spark.range(1).select(
            F.lit(0).cast("long").alias("node"), F.lit(0).alias("d")
        )
        settled = frontier.localCheckpoint(eager=True, storageLevel=disk)
        frontier = settled
        sizes = []
        rounds = 0
        for _ in range(64):
            nxt = (
                frontier.join(e, frontier["node"] == e["u"])
                .select(F.col("v").alias("node"), (F.col("d") + 1).alias("d"))
                .distinct()
                .join(settled.select("node"), on="node", how="left_anti")
                .localCheckpoint(eager=True, storageLevel=disk)
            )
            n_nxt = nxt.count()
            if n_nxt == 0:
                break
            sizes.append(n_nxt)
            new_settled = settled.unionByName(nxt).localCheckpoint(
                eager=True, storageLevel=disk
            )
            settled.unpersist()
            frontier.unpersist()
            settled, frontier = new_settled, nxt
            rounds += 1
        t_bfs = time.perf_counter() - t0
        n_reached = settled.count()
        max_d = settled.agg(F.max("d")).collect()[0][0]
        peak = sizes.index(max(sizes)) if sizes else -1
        monotone_to_peak = all(
            sizes[j] <= sizes[j + 1] for j in range(max(0, peak))
        )
        import math as _math

        ok = (
            n_reached == p
            and monotone_to_peak
            and max_d <= 4 * _math.log2(p)
        )
        settled.unpersist()
        e.unpersist()
        print(
            f"bfs_expander p={p:,d} E={n_e:,d} derive={t_derive:.1f}s "
            f"bfs={t_bfs:.1f}s rounds={rounds} reached={n_reached:,d} "
            f"height={max_d} valid={ok}",
            flush=True,
        )


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--bfs-expander", action="store_true",
                    help="decade tier for the driver-gated expander BFS kernel "
                    "(bfs_distances_synthetic_10k shape) at 1e4..1e7 nodes")
    ap.add_argument("--gen", action="store_true")
    ap.add_argument("--gen10", action="store_true", help="synthesize the sf~10 tier (500k docs)")
    ap.add_argument("--gen-ov", action="store_true", help="synthesize the open-vocabulary (Heaps-law) decade: 5k and 50k docs")
    ap.add_argument("--run-ov", action="store_true", help="time the exact-similarity families across the open-vocab decade")
    ap.add_argument("--run10", action="store_true", help="time the LINEAR families sf1 -> sf10")
    ap.add_argument("--run", action="store_true")
    ap.add_argument("--kernel", action="store_true")
    ap.add_argument("--sn", action="store_true")
    ap.add_argument("--kernel-n", type=int, default=20_000_000)
    ap.add_argument("--kernel-depth", type=int, default=100)
    ap.add_argument("--sn-n", type=int, default=5_000_000)
    ap.add_argument("--gen-r7", action="store_true",
                    help="synthesize the ov third decade (500k) and the boilered 50k/500k tiers")
    ap.add_argument("--run-r7", action="store_true",
                    help="cold-first: surprisal+substring families ov-50k -> ov-500k")
    ap.add_argument("--run-boiler", action="store_true",
                    help="cold-first: exact-substring family on the 20%-boilerplate tiers")
    ap.add_argument("--run-r7b", action="store_true",
                    help="cold-first: corpus mixture/selection ops across both decades")
    ap.add_argument("--run-semdedup", action="store_true",
                    help="SemDeDup decade with the scaled-k configuration")
    ap.add_argument("--run-r7c", action="store_true",
                    help="cold-first: dedup funnel (closed-vocab decade) + span decontamination (open-vocab decade)")
    ap.add_argument("--run-r7f", action="store_true",
                    help="cold-first: session-3 report ops (PSI, manifest, skew, resample, nearest-asof) on the open-vocab decade; nprobe sweep on the vector decade")
    ap.add_argument("--run-r7e", action="store_true",
                    help="cold-first: leakage-safe split + novelty (open-vocab decade); IVF/PQ recall evals (sf1 -> sf10 vector tiers)")
    ap.add_argument("--gen-s5", action="store_true",
                    help="synthesize the part decade for the skyline operator")
    ap.add_argument("--run-s5", action="store_true",
                    help="cold-first: session-5 ops (debounce, portable HLL, Welch, basket, PIT join, skyline) across their decades")
    ap.add_argument("--graph-1b", action="store_true",
                    help="1e9-edge single-round LPA probe (third decade)")
    ap.add_argument("--cc-1b", action="store_true",
                    help="1e9-edge single-round hash-min CC probe (second third-decade kernel)")
    ap.add_argument("--pr-1b", action="store_true",
                    help="1e9-edge single-round PageRank rank-flow probe (third third-decade kernel)")
    ap.add_argument("--ecc-1e8", action="store_true",
                    help="sampled-source eccentricity / diameter lower bound at 1e8 edges (BFS to exhaustion, K=4 sources)")
    ap.add_argument("--graph-r10", action="store_true",
                    help="decade rows for the r10 staged graph ops: "
                    "multi-source BFS + per-node triangle credit")
    ap.add_argument("--graph", action="store_true",
                    help="decade rows for the r9 iterative graph kernels (depth layers, LPA, k-core) at 1e7/1e8 edges + power-law skew tier")
    ap.add_argument("--graph-skew", action="store_true",
                    help="only the power-law AQE skew-join block of --graph")
    ap.add_argument("--run-r7d", action="store_true",
                    help="cold-first: session-3 ops (NB lang-ID, Zipf, minhash calibration, curriculum sample, image aHash) across the open-vocab decade")
    args = ap.parse_args()
    if args.bfs_expander:
        bfs_expander_scale()
    if args.graph_r10:
        graph_r10_scale()
    if args.graph_1b:
        graph_1b_probe()
    if args.cc_1b:
        cc_1b_probe()
    if args.pr_1b:
        pr_1b_probe()
    if args.ecc_1e8:
        ecc_1e8_probe()
    if args.graph:
        graph_scale()
    if args.graph_skew:
        graph_scale(skew_only=True)
    if args.gen:
        gen()
    if args.gen10:
        gen(SF10_DIR, n_docs=500_000, n_vecs=200_000, seed=777)
    if args.gen_ov:
        gen(OV_LO_DIR, n_docs=5_000, n_vecs=2_000, seed=909, vocab="heaps")
        gen(OV_HI_DIR, n_docs=50_000, n_vecs=2_000, seed=910, vocab="heaps")
    if args.run:
        run()
    if args.run10:
        run(LINEAR, lo_dir=SF1_DIR, hi_dir=SF10_DIR, labels=("sf1", "sf10"))
    if args.run_ov:
        run(OPEN_VOCAB, lo_dir=OV_LO_DIR, hi_dir=OV_HI_DIR, labels=("ov-5k", "ov-50k"))
    if args.gen_r7:
        gen(OV_XHI_DIR, n_docs=500_000, n_vecs=2_000, seed=911, vocab="heaps")
        gen(OVB_HI_DIR, n_docs=50_000, n_vecs=2_000, seed=912, vocab="heaps",
            boiler_frac=0.2)
        gen(OVB_XHI_DIR, n_docs=500_000, n_vecs=2_000, seed=913, vocab="heaps",
            boiler_frac=0.2)
    if args.run_r7:
        run_cold(R7_FAMILIES, [("ov-50k", OV_HI_DIR), ("ov-500k", OV_XHI_DIR)])
    if args.run_boiler:
        run_cold(R7_BOILER, [("ovb-50k", OVB_HI_DIR), ("ovb-500k", OVB_XHI_DIR)])
    if args.run_r7b:
        run_cold(
            R7B_FAMILIES,
            [("sf1", SF1_DIR), ("sf10", SF10_DIR),
             ("ov-50k", OV_HI_DIR), ("ov-500k", OV_XHI_DIR)],
        )
    if args.run_semdedup:
        semdedup_scale()
    if args.run_r7c:
        # the funnel inherits the FIXED 32/8/4 minhash scheme, which is
        # the known quadratic-candidate regime on the saturated
        # closed-vocab corpus (SCALING.md r5) — measure it on the
        # open-vocabulary decade, the regime real corpora live in
        run_cold(
            ["dedup_funnel_keep", "decontaminate_substring_cut"],
            [("ov-50k", OV_HI_DIR), ("ov-500k", OV_XHI_DIR)],
        )
    if args.run_r7f:
        run_cold(
            ["corpus_drift_psi", "corpus_shard_manifest",
             "shuffle_key_skew_report", "corpus_mixture_resample",
             "asof_join_nearest"],
            [("ov-50k", OV_HI_DIR), ("ov-500k", OV_XHI_DIR)],
        )
        run_cold(
            ["embedding_ivf_nprobe_sweep"],
            [("sf1", SF1_DIR), ("sf10", SF10_DIR)],
        )
    if args.run_r7e:
        run_cold(
            ["train_test_split_leakage_safe", "text_ngram_novelty",
             "sample_fixed_size_hash"],
            [("ov-50k", OV_HI_DIR), ("ov-500k", OV_XHI_DIR)],
        )
        run_cold(
            ["embedding_ann_recall", "embedding_pq_recall"],
            [("sf1", SF1_DIR), ("sf10", SF10_DIR)],
        )
    if args.run_r7d:
        run_cold(
            [
                "text_zipf_fit",
                "corpus_quality_curriculum_sample",
                "text_naive_bayes_lang",
                "dedup_minhash_calibration",
                "multimodal_image_ahash_dupes",
            ],
            [("ov-5k", OV_LO_DIR), ("ov-50k", OV_HI_DIR), ("ov-500k", OV_XHI_DIR)],
        )
    if args.gen_s5:
        gen_part(PART_MID_DIR, 200_000, seed=31)
        gen_part(PART_BIG_DIR, 2_000_000, seed=37)
    if args.run_s5:
        run_cold(
            ["sketch_hll_portable_rollup", "ab_welch_ttest",
             "dedup_events_debounce"],
            EV_TIERS,
        )
        run_cold(
            ["market_basket_lift", "scd2_point_in_time_join"],
            [("sf0.1", SF01_DIR), ("tpch10", TPCH10_DIR)],
        )
        run_cold(
            ["skyline_pareto_parts"],
            [("part-20k", SF01_DIR), ("part-200k", PART_MID_DIR),
             ("part-2m", PART_BIG_DIR)],
        )
    if args.kernel:
        kernel(args.kernel_n, args.kernel_depth)
    if args.sn:
        sn(args.sn_n)
    if not (args.gen or args.gen10 or args.gen_ov or args.run or args.run10
            or args.run_ov or args.kernel or args.sn
            or args.gen_r7
            or args.run_r7 or args.run_boiler or args.run_r7b
            or args.run_semdedup or args.run_r7c or args.run_r7d or args.run_r7e or args.gen_s5 or args.run_s5
            or args.run_r7f):
        print("pass --gen/--gen10/--gen-ov/--gen-r7, --run/--run10/--run-ov/"
              "--run-r7/--run-boiler/--run-r7b/--run-semdedup, --kernel "
              "and/or --sn")
