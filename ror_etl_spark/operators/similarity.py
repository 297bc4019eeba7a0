"""Similarity search over embedding columns (array<float>).

Two paths:

- ``brute_force_topk``: exact cosine top-k of every corpus vector against a
  query vector — one scan, no shuffle until the final top-k
  (TakeOrderedAndProject). The correctness baseline.
- ``lsh_topk``: random-hyperplane LSH — bucket vectors by the sign pattern
  of ``n_planes`` fixed pseudo-random hyperplanes, search only the query's
  bucket (plus optional multi-probe neighbors). At 100 TB the corpus is
  bucketed once (written partitioned by bucket key) and each query touches
  ~corpus/2^n_planes vectors.

Hyperplanes are generated deterministically from a seed via SplitMix64 so
the operator needs no stored model state and is reproducible across runs.
"""

from __future__ import annotations

import math

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ror_etl_spark.functions.vectors import as_double, cosine
from ror_etl_spark.operators.util import _splitmix64, spread


def tuned_lsh_params(
    n_rows: int,
    threshold: float,
    target_recall: float = 0.9,
    target_occupancy: int = 64,
    max_tables: int = 64,
) -> tuple[int, int]:
    """(n_tables, n_planes) for ``near_dup_pairs`` scaled to the corpus.

    Fixed LSH parameters make in-bucket candidate pairs grow
    quadratically with corpus size (the sf1 rehearsal measured
    ``embedding_near_dup_pairs`` at a x8-11 data-step with the registered
    query's pinned 8×6 — SCALING.md); the deployment answer is to re-tune
    bucket width as the corpus grows, which this function makes a closed
    form instead of folklore:

    - ``n_planes = max(4, ⌈log2(n_rows / target_occupancy)⌉)`` holds the
      EXPECTED bucket occupancy ~constant, so per-table candidate pairs
      stay ~``n_rows · occupancy / 2`` — linear in the corpus
      (test_similarity pins the measured growth).
    - ``n_tables`` restores recall lost to the longer sign prefix via the
      standard OR-construction bound: a pair exactly AT the cosine
      threshold collides per plane with ``p1 = 1 - arccos(t)/π``, per
      table with ``p1^n_planes``, in any of T tables with
      ``1 - (1 - p1^n_planes)^T`` — solve for the smallest T reaching
      ``target_recall`` (capped: past ``max_tables`` you want a different
      algorithm, not more tables).

    Pairs strictly above the threshold collide strictly more often, so
    the bound is conservative for everything the query keeps. The fixed
    registered query keeps its pinned 8×6 (its DuckDB oracle replays
    those exact buckets); since r6 the TUNED registered twin
    (``embedding_near_dup_pairs_tuned``) derives its params from the
    corpus count through the integer-exact ``tuned_planes`` /
    ``tuned_tables_for_planes`` split below, which its oracle re-derives
    inside the SQL.
    """
    n_planes = tuned_planes(n_rows, target_occupancy, max_planes=62)
    n_tables = tuned_tables_for_planes(n_planes, threshold, target_recall, max_tables)
    return n_tables, n_planes


def tuned_planes(
    n_rows: int,
    target_occupancy: int = 64,
    min_planes: int = 4,
    max_planes: int = 16,
) -> int:
    """Integer-exact plane count: the smallest ``p ≥ min_planes`` with
    ``target_occupancy · 2^p ≥ n_rows`` — identical to
    ``⌈log2(n/occupancy)⌉`` but computed with integer comparisons only,
    so a DuckDB oracle replays the rule bit-exactly as a range scan with
    no float-log edge cases at powers of two. Clamps at ``max_planes``
    (n > occupancy·2^max_planes); the default 16 covers ~1M-row corpora
    at occupancy 64 — raise it for more (bucket ids use long bits, so the
    hard ceiling is 62)."""
    for p in range(min_planes, max_planes + 1):
        if target_occupancy * (1 << p) >= n_rows:
            return p
    return max_planes


def tuned_tables_for_planes(
    n_planes: int,
    threshold: float,
    target_recall: float = 0.9,
    max_tables: int = 64,
) -> int:
    """Tables restoring recall for a given sign-prefix length — the
    OR-construction bound factored out of ``tuned_lsh_params`` so the
    oracle generator can inline T(p) for every p as a SQL CASE lookup
    (the acos/log floats run ONCE, in Python, never in two engines)."""
    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    if not 0.0 < target_recall < 1.0:
        raise ValueError("target_recall must be in (0, 1)")
    p1 = 1.0 - math.acos(threshold) / math.pi
    p_table = p1**n_planes
    if p_table <= 0.0:
        return max_tables
    n_tables = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - p_table))
    return max(1, min(max_tables, n_tables))


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic unit-ish hyperplanes: components are SplitMix64 draws
    mapped to [-1, 1] (box, not gaussian — fine for sign-LSH)."""
    planes = []
    state = seed
    for _ in range(n_planes):
        v = []
        for _ in range(dim):
            state, z = _splitmix64(state)
            v.append((z / 2**63) - 1.0)
        planes.append(v)
    return planes


def hyperplane_bucket(vec_col, planes: list[list[float]]):
    """Integer bucket id = sign bits of the vector against each plane."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        lits = F.array(*[F.lit(float(x)) for x in plane])
        d = F.aggregate(
            F.zip_with(as_double(vec_col), lits, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket.bitwiseOR(
            F.when(d >= 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(F.lit(0).cast("long"))
        )
    return bucket


def brute_force_topk(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine against a literal query vector.

    Returns (vec_id, cos) rounded to 6 dp, deterministically tie-broken by
    id. The plan is scan → project(cosine) → TakeOrderedAndProject: no
    shuffle of the corpus, ideal scaling."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = spread(corpus).select(
        F.col(id_col).alias("vec_id"),
        F.round(cosine(as_double(F.col(vec_col)), q), 6).alias("cos"),
    )
    return scored.orderBy(F.desc("cos"), F.asc("vec_id")).limit(k)


def lsh_topk(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 4,
    seed: int = 42,
    nprobe: int = 1,
) -> DataFrame:
    """Approximate top-k: exact search restricted to the query's LSH
    bucket(s).

    With n_planes=p the candidate set is ~nprobe×corpus/2^p.
    ``nprobe > 1`` enables multi-probe LSH: also search the buckets
    reached by flipping the sign bits whose hyperplanes the query is
    CLOSEST to (smallest |margin|) — those are the buckets most likely
    to hold missed neighbors, recovering most of the recall of multiple
    hash tables at a fraction of the storage (Lv et al., VLDB'07
    multi-probe LSH; public technique)."""
    planes = random_hyperplanes(len(query_vec), n_planes, seed)
    probes = _probe_sequence(query_vec, planes, nprobe)
    bucketed = corpus.withColumn("__bucket", hyperplane_bucket(F.col(vec_col), planes))
    return brute_force_topk(
        bucketed.filter(F.col("__bucket").isin(probes)), query_vec, k, id_col, vec_col
    )


def _probe_sequence(
    query_vec: list[float], planes: list[list[float]], nprobe: int
) -> list[int]:
    """Buckets ranked by how cheaply the query reaches them: cost of a
    bucket = sum of |signed margin| over the bits flipped relative to the
    query's own bucket (0 flips = the home bucket, cost 0). Driver-side
    enumeration over 2^p buckets — p is small by construction."""
    margins = [math.fsum(x * y for x, y in zip(query_vec, p)) for p in planes]
    base = 0
    for i, d in enumerate(margins):
        if d >= 0:
            base |= 1 << i
    n = len(planes)
    ranked = sorted(
        range(1 << n),
        key=lambda mask: (
            math.fsum(abs(margins[i]) for i in range(n) if mask & (1 << i)),
            mask,
        ),
    )
    return [base ^ mask for mask in ranked[: max(1, nprobe)]]


def _table_buckets_udf(tables: list[list[list[float]]]):
    """Arrow-batched bucket assignment: one (n_tables·n_planes × dim)
    matrix multiply per batch in numpy, returning the per-table bucket
    ids as array<long>.

    Why a Pandas UDF and not the ``hyperplane_bucket`` expression here:
    Catalyst higher-order functions (zip_with/aggregate) are
    CodegenFallback — interpreted per element, with allocation per row —
    so 48 fold-dots per row run 10-50× slower than one vectorized BLAS
    multiply over an Arrow batch. For dense fixed-width vector math the
    Arrow+numpy path IS the scale path."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    planes = np.array([p for tbl in tables for p in tbl], dtype=np.float64)
    n_tables = len(tables)
    n_planes = len(tables[0])
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    @pandas_udf("array<long>")
    def buckets(vecs: pd.Series) -> pd.Series:
        m = np.array(vecs.tolist(), dtype=np.float64)  # (batch, dim)
        signs = (m @ planes.T) >= 0  # (batch, n_tables*n_planes)
        signs = signs.reshape(len(m), n_tables, n_planes)
        ids = (signs * weights).sum(axis=2)  # (batch, n_tables)
        return pd.Series(list(ids))

    # asNondeterministic: the kernel IS a pure function, but leaving it
    # deterministic lets Catalyst push inferred isnotnull/join filters
    # BELOW the projection by DUPLICATING the Arrow eval — every consumer
    # then pays the GEMM twice (measured: 2 ArrowEvalPython nodes in all
    # IVF plans, 4 in the recall evals). The marker forbids that rewrite;
    # results are unchanged.
    return buckets.asNondeterministic()


def lsh_near_dup_pairs(
    corpus: DataFrame,
    threshold: float,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 8,
    n_planes: int = 6,
    base_seed: int = 101,
    max_bucket: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via multi-table hyperplane
    LSH with IN-BUCKET verification: vectors ship through the bucket
    shuffle once per table replica, and each (table, bucket) group
    verifies its own pairs with one numpy GEMM — only OUTPUT-sized pair
    rows ever materialize.

    Why not "candidate pairs join vectors back"? That was the r1-r5
    shape, and the sf10 rehearsal killed it: with candidates ~n·occ·T/2
    (~10^8 at 200k clustered vectors), the second vector join sorts a
    candidates × 2·dim-doubles intermediate — a ~100 GB spill that
    filled the disk. Here the wide data is the BUCKET table
    (n·T rows × dim doubles ≈ 3 GB at the same tier), the quadratic
    work is FLOPs inside bounded groups (Σ occ²·dim — seconds of BLAS),
    and the only pair-shaped shuffle is the final output-sized
    aggregate. That aggregate (min over per-table cos replicas of the
    same pair) also collapses last-ulp GEMM differences between tables,
    which a plain distinct would keep as spurious duplicates.

    ``max_bucket`` drops (table, bucket) groups holding more ids — a
    bucket at many times the target occupancy means those sign bits do
    not discriminate there (a dense region hashed together), its pairs
    are overwhelmingly below threshold, and its occ²·dim GEMM is pure
    waste; dropping is the standard production trade (bucket-size caps
    in PLSH-style deployments), with recall loss concentrated on pairs
    the other tables can still catch. The cap is enforced INSIDE the
    verify function, where the group is already materialized — a
    separate count-aggregate + join would recompute and re-shuffle the
    vector-carrying bucket table (measured 4.0 → 18.4 s at the sf1
    tier when tried).

    Recall is the standard multi-table OR-construction: a pair at angle θ
    survives one table with (1-θ/π)^n_planes, any of T tables with
    1-(1-p)^T. The tuned registered twin derives (T, p) from the corpus
    count (``tuned_planes`` / ``tuned_tables_for_planes``); the fixed
    twin pins 8×6. Contrast ``all_pairs_above``: a cartesian self-join
    kept only as the tests' recall baseline."""
    import numpy as np

    tables = [
        random_hyperplanes(dim, n_planes, base_seed + t) for t in range(n_tables)
    ]
    bucket_fn = _table_buckets_udf(tables)
    buckets = (
        spread(corpus)
        .select(
            F.col(id_col).alias("id"),
            as_double(F.col(vec_col)).alias("v"),
            bucket_fn(as_double(F.col(vec_col))).alias("bs"),
        )
        .select("id", "v", F.posexplode("bs").alias("tbl", "bucket"))
    )
    def verify(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "id_a": np.array([], dtype=np.int64),
                "id_b": np.array([], dtype=np.int64),
                "cos": np.array([], dtype=np.float64),
            }
        )
        if len(pdf) < 2 or (max_bucket is not None and len(pdf) > max_bucket):
            return empty
        ids = pdf["id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        V = np.array(pdf["v"].tolist(), dtype=np.float64)[order]
        V = V / np.linalg.norm(V, axis=1, keepdims=True)
        # Blocked GEMM: an uncapped super-bucket (dense corpus region all
        # hashing together) must degrade to O(block·occ) temporaries, not
        # one dense occ×occ allocation — the group itself is only
        # occ×dim, so memory stays linear in the group even when its
        # pair OUTPUT is quadratic. The kernel filter uses a margin
        # below threshold (raw cosines; authoritative rounding+filter
        # happens Spark-side) so no pair that rounds up to threshold at
        # 6 dp is lost.
        margin = threshold - 1e-6
        blk = 2048
        outs = []
        for s in range(0, len(ids) - 1, blk):
            e = min(s + blk, len(ids))
            g = V[s:e] @ V[s + 1 :].T  # rows s..e vs all later columns
            ia, ib = np.nonzero(g >= margin)
            # global col s+1+ib must exceed global row s+ia: ib >= ia
            keep = ib >= ia
            if keep.any():
                ia, ib = ia[keep], ib[keep]
                outs.append(
                    pd.DataFrame(
                        {
                            "id_a": ids[ia + s],
                            "id_b": ids[ib + s + 1],
                            "cos": g[ia, ib],
                        }
                    )
                )
        if not outs:
            return empty
        return pd.concat(outs, ignore_index=True)

    # Pin the group exchange at defaultParallelism (same key as the
    # groupBy, so FlatMapGroupsInPandas adds no second exchange): the
    # per-group cost of applyInPandas is pandas-frame construction +
    # the GEMM, and AQE's byte-based coalescing packs the shuffle into a
    # handful of tasks (5 at sf0.1 — bucket rows are narrow), serializing
    # hundreds of group kernels onto a few cores (guide §4.3 batch
    # sizing / §2.5: CPU-heavy post-shuffle work, not bytes, is the unit
    # here). defaultParallelism is the cluster width at any scale.
    nparts = corpus.sparkSession.sparkContext.defaultParallelism
    pairs = (
        buckets.repartition(nparts, "tbl", "bucket")
        .groupBy("tbl", "bucket")
        .applyInPandas(verify, schema="id_a long, id_b long, cos double")
    )
    # min over per-table raw-cos replicas of the same pair (collapses
    # last-ulp GEMM differences), THEN one Spark-side HALF_UP rounding —
    # round is monotonic so it commutes with min — and the authoritative
    # threshold filter on the rounded value, same definition as the
    # DuckDB oracle's round().
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.round(F.min("cos"), 6).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def all_pairs_above(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (a < b) with cosine ≥
    threshold. Brute-force O(n²) via self-join — correct baseline; the
    scale path buckets by LSH first (same hyperplane machinery) so only
    in-bucket pairs materialize.

    Vectors are L2-normalized ONCE per row before the pair join, so each
    pair costs a single dot product instead of dot + two norms — 3× less
    flops on the quadratic stage (the dominant term at any scale)."""
    from ror_etl_spark.functions.vectors import dot, l2_norm

    corpus = spread(corpus)
    v = as_double(F.col(vec_col))
    unit = F.transform(v, lambda x: x / l2_norm(v))
    normed = corpus.select(F.col(id_col).alias("id"), unit.alias("u")).localCheckpoint(
        eager=False
    )
    a = normed.select(F.col("id").alias("id_a"), F.col("u").alias("ua"))
    b = normed.select(F.col("id").alias("id_b"), F.col("u").alias("ub"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    return (
        pairs.select(
            "id_a",
            "id_b",
            F.round(dot(F.col("ua"), F.col("ub")), 6).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def _nearest_cell_udf(centroids: list[list[float]]):
    """Arrow-batched nearest-centroid assignment: one (batch × k × dim)
    numpy broadcast per batch, argmin per row (numpy argmin returns the
    FIRST minimum — the same lower-index tie-break as the oracle's
    ``ORDER BY list_distance, cell``).

    Same rationale as ``_table_buckets_udf``: a Catalyst higher-order
    argmin is interpreted per element, the numpy form is one vectorized
    pass. The output is an integer cell id — no rounding is involved, so
    the only cross-engine divergence risk is a near-exact distance tie
    between two distinct centroids at float64 resolution, which the
    quantized (round_means) training trajectory makes measure-zero.

    The distance is computed in the GEMM form ``‖c‖² − 2·V·Cᵀ``
    (argmin-equivalent: ‖x‖² is constant per row): the naive
    ``(V−C)²`` broadcast materializes batch×k×dim temporaries —
    measured 33 s/pass at (200k rows × 256 centroids × 64 dims), pure
    memory traffic — while the GEMM is one BLAS call over batch×k."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = np.array(centroids, dtype=np.float64)  # (k, dim)
    c2 = (C * C).sum(axis=1)  # (k,)

    @pandas_udf("int")
    def cell(vecs: pd.Series) -> pd.Series:
        V = np.array(vecs.tolist(), dtype=np.float64)  # (batch, dim)
        d = c2[None, :] - 2.0 * (V @ C.T)
        return pd.Series(np.argmin(d, axis=1).astype(np.int32))

    # asNondeterministic: see _table_buckets_udf — prevents Catalyst from
    # duplicating the GEMM argmin below pushed-down filters (the corpus
    # otherwise crosses to Python twice per IVF query).
    return cell.asNondeterministic()


def kmeans_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    n_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_means: int | None = None,
) -> list[list[float]]:
    """Distributed Lloyd's k-means for IVF coarse quantization.

    Init = the ``n_centroids`` smallest ids (deterministic, no RNG).
    Each iteration: assign every vector to its nearest centroid
    (broadcast literals, codegen argmin — no shuffle), then recompute
    per-cell means with posexplode → groupBy(cell, pos) → avg — ONE
    shuffle of (cell, dim, partial-sum) per iteration, map-side combined,
    so the shuffled volume is ~n_centroids×dim rows regardless of corpus
    size. Empty cells keep their previous centroid. At 100 TB train on
    ``corpus.sample(...)`` — the centroid list is the only state and it
    stays driver-sized.

    ``round_means`` (decimals) quantizes each recomputed mean: the whole
    training trajectory then depends only on the data, not on fp
    summation order, so an external engine (the DuckDB oracle) replaying
    the same iterations lands on bit-identical centroids."""
    rows = (
        corpus.orderBy(F.asc(id_col)).limit(n_centroids).select(vec_col).collect()
    )
    centroids = [[float(x) for x in r[vec_col]] for r in rows]
    # lazy checkpoint: the cast vectors materialize once on the first
    # iteration's aggregate and every later iteration re-reads the cached
    # 2-column frame instead of re-scanning parquet + re-casting
    vecs = corpus.select(as_double(F.col(vec_col)).alias("v")).localCheckpoint(
        eager=False
    )
    for _ in range(max(0, n_iters)):
        assign = _nearest_cell_udf(centroids)
        cells = vecs.select(assign(F.col("v")).alias("cell"), "v")
        means = (
            cells.select("cell", F.posexplode("v"))
            .groupBy("cell", "pos")
            .agg(F.avg("col").alias("m"))
            .collect()
        )
        new = [list(c) for c in centroids]
        by_cell: dict[int, dict[int, float]] = {}
        for r in means:
            by_cell.setdefault(r["cell"], {})[r["pos"]] = r["m"]
        for cell, dims in by_cell.items():
            for pos, m in dims.items():
                new[cell][pos] = m if round_means is None else round(m, round_means)
        if new == centroids:
            break
        centroids = new
    return centroids


def ivf_topk(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    nprobe: int = 4,
    train_iters: int = 0,
    round_means: int | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: coarse-quantize the corpus to the
    nearest of ``n_centroids`` centroids, then search only the ``nprobe``
    centroid cells nearest the query.

    With ``train_iters=0`` centroids are a deterministic sample (the
    n_centroids smallest ids) — one tiny collect. ``train_iters>0`` runs
    that many Lloyd iterations (``kmeans_centroids``), which evens out
    cell populations and pulls centroids toward the data's modes —
    higher recall at the same nprobe. Either way the operator shape
    (assign via argmin over a broadcast centroid list, partition by
    cell, probe a few cells per query) is exactly the production IVF
    layout, where the corpus is written partitioned by cell once and
    each query reads nprobe/n_centroids of the data."""
    if train_iters > 0:
        centroids = kmeans_centroids(
            corpus, n_centroids, train_iters, id_col, vec_col, round_means
        )
    else:
        rows = (
            corpus.orderBy(F.asc(id_col))
            .limit(n_centroids)
            .select(id_col, vec_col)
            .collect()
        )
        centroids = [[float(x) for x in r[vec_col]] for r in rows]

    def qdist(c: list[float]) -> float:
        return math.fsum((x - y) ** 2 for x, y in zip(query_vec, c))

    probe_cells = sorted(range(len(centroids)), key=lambda i: (qdist(centroids[i]), i))[
        :nprobe
    ]
    assign = _nearest_cell_udf(centroids)
    cells = corpus.withColumn("__cell", assign(as_double(F.col(vec_col))))
    return brute_force_topk(
        cells.filter(F.col("__cell").isin(probe_cells)), query_vec, k, id_col, vec_col
    )


def semdedup_prune(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    train_iters: int = 3,
    round_means: int | None = 6,
    max_cell: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023's shape):
    k-means-cluster the embeddings, then within each cluster mark every
    vector whose cosine to an EARLIER vector (lower id) in the same
    cluster reaches ``threshold`` as a prunable semantic duplicate.

    Returns (vec_id, cell, pruned, dup_of): ``dup_of`` is the smallest
    qualifying earlier id, null for kept vectors. The keep-rule is the
    id-dominance approximation of the paper's greedy (a vector is pruned
    if ANY earlier vector witnesses it, whether or not that witness was
    itself pruned) — a single self-join predicate instead of a
    sequential chain, so it is distributed AND replayable in SQL.
    Ranking is by id, not the paper's distance-to-centroid, for the same
    reason the whole repo prefers integer keys in tie-breaks: no float
    comparison decides WHO survives, only WHETHER a pair is similar.

    Scale shape: training shuffles ~n_centroids×dim partial sums per
    iteration (see ``kmeans_centroids``); assignment is one broadcast
    argmin map; the quadratic verify runs INSIDE each cell with the
    same blocked-GEMM kernel as ``lsh_near_dup_pairs`` (memory
    O(block·occ), pairs only materialize above threshold−margin).
    Cells are the unit of parallelism — at 100 TB, n_centroids scales
    with the corpus so cell occupancy stays bounded (SemDeDup's own
    prescription), and ``max_cell`` diverts degenerate super-cells the
    same way the LSH verify caps buckets. The assignment frame is
    lazily checkpointed: the pair kernel and the final prune join both
    consume it, and nothing upstream (parquet scan + UDF assign) runs
    twice."""
    import numpy as np

    if train_iters > 0:
        centroids = kmeans_centroids(
            corpus, n_centroids, train_iters, id_col, vec_col, round_means
        )
    else:
        rows = (
            corpus.orderBy(F.asc(id_col)).limit(n_centroids).select(vec_col).collect()
        )
        centroids = [[float(x) for x in r[vec_col]] for r in rows]
    assign = _nearest_cell_udf(centroids)
    assigned = (
        spread(corpus)
        .select(
            F.col(id_col).alias("vec_id"), as_double(F.col(vec_col)).alias("v")
        )
        .withColumn("cell", assign(F.col("v")))
        .localCheckpoint(eager=False)
    )

    def verify(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "vec_id": np.array([], dtype=np.int64),
                "witness": np.array([], dtype=np.int64),
                "cos": pd.array([], dtype="Float64"),
            }
        )
        if len(pdf) < 2 or (max_cell is not None and len(pdf) > max_cell):
            return empty
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        n = len(ids)
        V = np.array(pdf["v"].tolist(), dtype=np.float64)[order]
        V = V / np.linalg.norm(V, axis=1, keepdims=True)
        # Only the MIN earlier witness per vector leaves the kernel, not
        # the above-threshold pair list — on a clustered corpus that list
        # is quadratic in cell occupancy (the sf10 rehearsal measured
        # ~78M Arrow rows dominating the wall), while dup_of is one row
        # per member. Pairs inside ±1e-6 of the threshold can't be
        # decided with raw GEMM cosines (the authoritative definition is
        # HALF_UP rounding at 6 dp, done Spark-side), so ONLY that
        # measure-zero boundary band is emitted pair-exact; a cosine
        # ≥ threshold+1e-6 rounds up for certain (6-dp rounding moves a
        # value by ≤ 5e-7), so those reduce to the min witness here.
        safe_lo, band_lo = threshold + 1e-6, threshold - 1e-6
        best = np.full(n, np.iinfo(np.int64).max, dtype=np.int64)
        bvec, bwit, bcos = [], [], []
        blk = 2048
        for s in range(0, n - 1, blk):
            e = min(s + blk, n)
            g = V[s:e] @ V[s + 1 :].T
            # triangle: column j is global s+1+j, row i is global s+i —
            # valid witnesses need col > row, i.e. j >= i
            tri = np.arange(g.shape[1])[None, :] >= np.arange(e - s)[:, None]
            safe = (g >= safe_lo) & tri
            hit = safe.any(axis=0)
            if hit.any():
                first = safe.argmax(axis=0)  # smallest row = smallest id
                cols = np.nonzero(hit)[0]
                np.minimum.at(best, cols + s + 1, ids[first[cols] + s])
            band = (g >= band_lo) & (g < safe_lo) & tri
            ia, ib = np.nonzero(band)
            if len(ia):
                bvec.append(ids[ib + s + 1])
                bwit.append(ids[ia + s])
                bcos.append(g[ia, ib])
        parts = []
        red = np.nonzero(best != np.iinfo(np.int64).max)[0]
        if len(red):
            parts.append(
                pd.DataFrame(
                    {
                        "vec_id": ids[red],
                        "witness": best[red],
                        "cos": pd.array([None] * len(red), dtype="Float64"),
                    }
                )
            )
        if bvec:
            parts.append(
                pd.DataFrame(
                    {
                        "vec_id": np.concatenate(bvec),
                        "witness": np.concatenate(bwit),
                        "cos": pd.array(np.concatenate(bcos), dtype="Float64"),
                    }
                )
            )
        if not parts:
            return empty
        return pd.concat(parts, ignore_index=True)

    pairs = assigned.groupBy("cell").applyInPandas(
        verify, schema="vec_id long, witness long, cos double"
    )
    # null cos = decided safe inside the kernel; boundary rows carry the
    # raw cosine and get the authoritative Spark-side HALF_UP rounding,
    # same definition as the DuckDB oracle's round() (the r6→r7
    # rounding-discipline lesson).
    dup = (
        pairs.filter(F.col("cos").isNull() | (F.round("cos", 6) >= threshold))
        .groupBy("vec_id")
        .agg(F.min("witness").alias("dup_of"))
    )
    return assigned.join(dup, "vec_id", "left").select(
        "vec_id",
        "cell",
        F.col("dup_of").isNotNull().alias("pruned"),
        "dup_of",
    )


def tuned_semdedup_k(
    n: int, target_occ: int = 50, min_exp: int = 3, max_exp: int = 12
) -> int:
    """Cluster count for SemDeDup scaled to the corpus: the smallest
    power of two ``k ≥ 2^min_exp`` with ``k · target_occ ≥ n`` — i.e.
    expected cell occupancy ≤ target_occ, the unit of quadratic verify
    work. Pure integer arithmetic (the tuned_band_rows discipline), so a
    DuckDB oracle replays the rule from ``count(*)`` as a range scan:
    ``min(1 << range) FROM range(min_exp, max_exp + 1) WHERE
    (1 << range) * target_occ >= n``. Past 2^max_exp the rule clamps —
    raise max_exp for larger corpora, the closed form is unchanged."""
    for j in range(min_exp, max_exp + 1):
        if (1 << j) * target_occ >= n:
            return 1 << j
    return 1 << max_exp


def assign_cells(
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, v, cell): the IVF coarse-quantization assignment as a reusable
    frame — every vector labeled with its nearest trained centroid via the
    vectorized GEMM argmin (``_nearest_cell_udf``). This is the layout a
    production IVF index persists (corpus partitioned by cell); exposing
    it lets multi-query evaluation (recall reports) share ONE assignment
    pass across all queries instead of re-assigning per query."""
    return corpus.select(
        F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v")
    ).withColumn("cell", _nearest_cell_udf(centroids)(F.col("v")))


def max_incell_cosine(assigned: DataFrame) -> DataFrame:
    """(vec_id, mc): each vector's MAXIMUM raw cosine to any LOWER-id
    member of its cell — the per-vector statistic behind threshold
    sweeps (pruned-at-t ⇔ round(mc, 6) ≥ t). Blocked GEMM per cell,
    the ``semdedup_prune`` kernel economics: memory O(block·occ), one
    output row per member, never a pair list. Rounding commutes with
    max (both monotone), so the single Spark-side ``F.round`` equals
    the oracle's max-of-rounded-pairs. ``assigned`` is (vec_id, v,
    cell) — the ``assign_cells`` layout. A JVM fold alternative
    (cell self-join + zip_with cosine) is interpreted per element and
    measured unusable at the 200k×16-cell tier (~78M pairs)."""
    import numpy as np

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"vec_id": np.array([], dtype=np.int64),
                                 "mc": np.array([], dtype=np.float64)})
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        n = len(ids)
        V = np.array(pdf["v"].tolist(), dtype=np.float64)[order]
        V = V / np.linalg.norm(V, axis=1, keepdims=True)
        best = np.full(n, -np.inf)
        blk = 2048
        for s in range(1, n, blk):
            e = min(s + blk, n)
            g = V[s:e] @ V[:e - 1].T  # rows: globals s..e-1; cols: 0..e-2
            tri = np.arange(e - 1)[None, :] < np.arange(s, e)[:, None]
            g = np.where(tri, g, -np.inf)
            best[s:e] = np.maximum(best[s:e], g.max(axis=1))
        keep = best > -np.inf
        return pd.DataFrame({"vec_id": ids[keep], "mc": best[keep]})

    return assigned.groupBy("cell").applyInPandas(
        kernel, schema="vec_id long, mc double"
    )
