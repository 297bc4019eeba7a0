"""Deduplication operator family for LLM-data pipelines.

Four tiers, cheapest first — the standard funnel at 100 TB is
exact → MinHash-LSH candidates → verified near-dup clusters:

- **exact**: hash-groupBy on a normalized fingerprint. One shuffle on the
  16-byte md5 key (never the document payload when ``payload=False``).
- **MinHash + LSH**: shingle → n independent min-hashes → band signatures
  → candidates = docs sharing any band bucket. Only signatures shuffle
  (b × 8 bytes per doc); candidate verification joins payloads for the
  tiny candidate set only.
- **SimHash**: 64-bit locality-sensitive fingerprint; near-dups differ in
  few bits. Bucket by the four 16-bit sub-bands (any exact sub-band match
  is a candidate — Hamming distance ≤ 3 guarantees a hit by pigeonhole).
- **n-gram Jaccard verify**: exact shingle-set similarity for candidate
  pairs (the verification step after either LSH).

All expression-level work is built-in higher-order functions (JVM
codegen). The one Arrow-batched kernel (``_minhash_sig_udf``) exists because the
interpreted HOF chain's cold cost does not survive large corpora (md5 +
Horner + lanes measured ≥4 min at the 500k-doc rehearsal tier); it is
bit-identical to the expression path and there is no row-at-a-time
Python UDF anywhere in this module.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ror_etl_spark.functions.text import normalize_text, fingerprint_md5
from ror_etl_spark.operators.util import _splitmix64, spread


def shingles(text_col, k: int = 3):
    """k-token shingles of normalized text as an array<string> Column.

    Built from k shifted ``slice``s folded with ``zip_with`` instead of
    ``transform(sequence, i -> concat_ws(element_at(toks, i+j)...))``:
    higher-order lambdas re-evaluate every OUTER expression they
    reference per element, so the indexed form re-ran the whole
    normalize+split pipeline k times per position — O(k·n) re-tokenizes
    per document (r12 event-log profile: the shingle stage alone was
    ~86 task-seconds at sf0.1; this form measured 2.9× faster end to
    end with byte-identical output). ``slice``/``zip_with`` evaluate
    their array CHILDREN once per row and only the lambda per element,
    and the lambda here touches nothing but its own arguments.

    Edge parity with the indexed form (pinned in test_dedup):
    fewer than k tokens → one shingle joining all tokens (concat_ws
    skipped the null element_at lookups); null text → [""] (concat_ws
    of all-null is the empty string)."""
    toks = F.split(normalize_text(text_col), " ")
    n = F.size(toks)
    m = F.greatest(n - (k - 1), F.lit(0))
    zipped = F.slice(toks, 1, m)
    for j in range(1, k):
        zipped = F.zip_with(
            zipped, F.slice(toks, j + 1, m), lambda a, b: F.concat_ws(" ", a, b)
        )
    return (
        F.when(n >= k, zipped)
        .when(n >= 1, F.array(F.array_join(toks, " ")))
        .otherwise(F.array(F.lit("")))
    )


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicate groups by normalized-text fingerprint.

    Returns (fingerprint, keep_id, n_copies); keep_id is the minimum id so
    the survivor choice is deterministic. Join back on fingerprint to drop
    losers."""
    return (
        df.select(
            fingerprint_md5(F.col(text_col)).alias("fingerprint"),
            F.col(id_col).alias("id"),
        )
        .groupBy("fingerprint")
        .agg(F.min("id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


MERSENNE31 = 2147483647  # 2^31 - 1, prime modulus for the lane remixes


def lane_params(num_hashes: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic (a, b) per minhash lane: a ∈ [1, M-1], b ∈ [0, M-1].

    Shared by the Spark operator and the DuckDB oracle generator so both
    engines compute bit-identical signatures."""
    out = []
    state = seed
    while len(out) < num_hashes:
        state, za = _splitmix64(state)
        state, zb = _splitmix64(state)
        a = za % (MERSENNE31 - 1) + 1
        b = zb % MERSENNE31
        out.append((a, b))
    return out


def tuned_band_rows(
    n_rows: int, key_budget: int = 250, min_rows: int = 4, max_rows: int = 16
) -> int:
    """rows-per-band for MinHash-LSH scaled to the corpus: the smallest
    ``r ≥ min_rows`` with ``key_budget · 2^r ≥ n_rows``.

    Fixed band width makes in-bucket candidate pairs grow ~quadratically
    with corpus size (the sf1→sf10 rehearsal measured the registered
    32/8/4 scheme at x13.6 — SCALING.md); lengthening the band key with
    ``log2`` of the corpus multiplies the key space by the corpus growth,
    holding expected per-band bucket occupancy ~constant so candidates
    stay ~linear. Pure integer arithmetic (no log/ceil floats), so a
    DuckDB oracle replays the rule bit-exactly as a range scan:
    ``min(r) FROM range(min, max+1) WHERE key_budget * (1 << r) >= n``.
    Beyond ``max_rows`` (n > key_budget·2^max_rows, i.e. ~16M docs at the
    defaults) the rule clamps — extend max_rows for larger corpora; the
    closed form is the same."""
    for r in range(min_rows, max_rows + 1):
        if key_budget * (1 << r) >= n_rows:
            return r
    return max_rows


LANE_POOL = 128  # physical minhash lanes cap; bands above this share lanes


def band_lane_indices(
    bands: int, rows_per_band: int, pool: int = LANE_POOL
) -> list[list[int]]:
    """0-based signature indices for each band under the LANE-POOL cap.

    ``bands·rows_per_band ≤ pool`` → consecutive disjoint slices, i.e.
    exactly the historical scheme (bit-identical output for every
    registered fixed query and for the tuned queries at any corpus the
    sf≤1 rules produce). Beyond the pool, each band draws
    ``rows_per_band`` DISTINCT indices from the fixed pool with a strided
    design: ``idx(band, j) = (off(band) + j·step(band)) mod pool`` with
    an ODD step — odd steps are units mod a power-of-two pool, so the
    j-walk never revisits an index while j < pool. Sharing lanes across
    bands leaves per-band collision probability exactly ``s^r`` (the r
    indices within a band are distinct, and minhash lanes are
    independent across indices); only RECALL variance rises slightly
    because bands become positively correlated — the planted-recall
    calibration tests bound that empirically. The payoff is the scale
    story: the signature pass costs O(pool) per document FOREVER, where
    the uncapped tuned scheme grew lanes ~2.75×/decade (104 → 286 at
    sf1 → sf10, SCALING.md round 6) on top of the data growth.

    Pure non-negative integer arithmetic, so the DuckDB oracle replays
    the rule inside SQL with dynamic (b, r)."""
    assert pool & (pool - 1) == 0, "pool must be a power of two (odd-step walk)"
    assert rows_per_band <= pool
    if bands * rows_per_band <= pool:
        return [
            [band * rows_per_band + j for j in range(rows_per_band)]
            for band in range(bands)
        ]
    out = []
    for band in range(bands):
        off = (band * 2654435761) % pool
        step = 2 * ((band * 40503) % (pool // 2)) + 1
        out.append([(off + j * step) % pool for j in range(rows_per_band)])
    return out


def tuned_bands_for_rows(
    r: int, threshold: float = 0.8, target_recall: float = 0.9, max_bands: int = 32
) -> int:
    """Bands restoring recall at the Jaccard threshold for band width r.

    Standard OR-construction: a pair exactly AT Jaccard t agrees on one
    band with ``t^r``, on any of b bands with ``1-(1-t^r)^b`` — the
    smallest b reaching ``target_recall``, capped (past ``max_bands`` the
    hash budget says use a different algorithm, not more bands). Pairs
    above the threshold collide strictly more often, so the bound is
    conservative for everything the verify step keeps. Evaluated in
    PYTHON only — the oracle generator inlines b(r) for every r as a SQL
    CASE lookup, so no float log ever runs inside two engines."""
    import math

    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    if not 0.0 < target_recall < 1.0:
        raise ValueError("target_recall must be in (0, 1)")
    p_band = threshold**r
    if p_band <= 0.0:
        return max_bands
    b = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - p_band))
    return max(1, min(max_bands, b))


def md5_hash31(col):
    """Portable 31-bit string hash: top 8 hex chars of md5, sign bit
    dropped. md5 produces identical bytes in Spark and DuckDB (unlike
    xxhash64/murmur, which are engine-internal), so every operator built
    on this hash can be replayed exactly by a DuckDB oracle:

        Spark:  conv(substring(md5(s), 1, 8), 16, 10) & 0x7FFFFFFF
        DuckDB: ('0x' || substr(md5(s), 1, 8))::BIGINT & 2147483647
    """
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10)
        .cast("long")
        .bitwiseAND(F.lit(0x7FFFFFFF))
    )


HORNER_BASE = 1000003  # shingle combine base (31-bit-safe multiplier)


def shingle_hashes(text_col, k: int = 3):
    """array<bigint> of distinct k-shingle hashes WITHOUT materializing
    shingle strings: each TOKEN is md5-hashed once, then a Horner combine
    ``h = (h·B + tok_hash) mod 2^31-1`` folds k consecutive token hashes
    into the shingle hash. vs hashing shingle strings this digests ~k×
    fewer bytes and allocates no concatenated strings — the dominant cost
    of the signature pass on a 100 TB corpus. Every step is portable
    arithmetic on md5_hash31 values, so DuckDB oracles replay it
    exactly."""
    toks = F.split(normalize_text(text_col), " ")
    th = F.transform(toks, lambda t: md5_hash31(t))
    n = F.size(th)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))

    def combine(i):
        h = F.coalesce(F.try_element_at(th, i), F.lit(0).cast("long"))
        for j in range(1, k):
            nxt = F.coalesce(F.try_element_at(th, i + j), F.lit(0).cast("long"))
            h = (h * F.lit(HORNER_BASE) + nxt) % F.lit(MERSENNE31)
        return h

    return F.array_distinct(F.transform(idx, combine))


def _minhash_sig_udf(params: list[tuple[int, int]], k: int):
    """Arrow-batched fused minhash kernel: token arrays in, signatures out.

    Replaces the WHOLE interpreted chain — per-token md5, Horner shingle
    combine, lane remixes, per-row min — with one vectorized pass per
    Arrow batch. Why: Catalyst higher-order functions are CodegenFallback
    (interpreted per element with allocation per lambda call), and the
    sf10 rehearsal measured the JVM ``shingle_hashes`` pass alone at
    ≥4 minutes for 500k docs — the hidden cold cost of every minhash
    query (cache warm-up masked it in best-of-N timings until r6).
    Here the only JVM work is ``split`` (proper codegen); Python does:

    - md5 per UNIQUE token via a per-batch dict cache (token vocabularies
      are tiny relative to token counts — 31 entries for the driver
      corpus, ~10^5 for a Heaps-law batch), exactly
      ``int(md5(tok).hexdigest()[:8], 16) & 0x7FFFFFFF`` = the JVM
      ``md5_hash31``;
    - the Horner window combine over the flat token-hash array with
      segmented offsets (short rows replicate the JVM path's
      null→0 coalesce for windows past the row end);
    - lane remixes ``(a·h + b) mod 2^31-1`` and per-row minima via one
      numpy broadcast + ``minimum.reduceat`` (lanes chunked by 32 to
      bound the temporary).

    Skipping ``array_distinct`` is deliberate and exact: the lane min
    over a multiset equals the min over its distinct set. Output is
    BIT-IDENTICAL to the expression path (parity-pinned in test_dedup)
    and to the DuckDB oracle replay."""
    import hashlib

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    A = np.array([a for a, _ in params], dtype=np.int64)[:, None]
    Bc = np.array([b for _, b in params], dtype=np.int64)[:, None]

    @pandas_udf("array<long>")
    def sig(toks: pd.Series) -> pd.Series:
        # Null-safe with EXPRESSION-PATH parity (pinned in test_dedup):
        # split(null text) -> null token array, whose try_element_at
        # windows all coalesce to 0 -> one shingle hash 0 -> lane value
        # b % M. A null row therefore behaves exactly like a single
        # zero-hash token, never a TypeError.
        tok_lists = [[None] if row is None else row for row in toks.tolist()]
        if not tok_lists:
            return pd.Series([], dtype=object)
        lens = np.fromiter(
            (len(t) for t in tok_lists), dtype=np.int64, count=len(tok_lists)
        )
        cache: dict[str, int] = {}
        th = np.empty(int(lens.sum()), dtype=np.int64)
        i = 0
        for row in tok_lists:
            for t in row:
                if t is None:
                    th[i] = 0
                    i += 1
                    continue
                v = cache.get(t)
                if v is None:
                    v = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:8], 16) & 0x7FFFFFFF
                    cache[t] = v
                th[i] = v
                i += 1
        offs = np.zeros(len(lens), dtype=np.int64)
        np.cumsum(lens[:-1], out=offs[1:])
        w = np.maximum(lens - (k - 1), 1)
        woffs = np.zeros(len(w), dtype=np.int64)
        np.cumsum(w[:-1], out=woffs[1:])
        row_of = np.repeat(np.arange(len(w)), w)
        intra = np.arange(int(w.sum()), dtype=np.int64) - woffs[row_of]
        base = offs[row_of] + intra
        sh = th[base].copy()
        for j in range(1, k):
            idx = np.minimum(base + j, len(th) - 1)
            tj = np.where((intra + j) < lens[row_of], th[idx], 0)
            sh = (sh * HORNER_BASE + tj) % MERSENNE31
        shr = sh[None, :]
        mins = np.empty((len(params), len(w)), dtype=np.int64)
        for i in range(0, len(params), 32):
            vals = (A[i : i + 32] * shr + Bc[i : i + 32]) % MERSENNE31
            # every row has >= 1 window, so reduceat is a plain row min
            mins[i : i + 32] = np.minimum.reduceat(vals, woffs, axis=1)
        return pd.Series(list(mins.T))

    return sig


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_k: int = 3,
    vectorized: bool = True,
) -> DataFrame:
    """(id, minhash: array<bigint>[num_hashes]).

    Tokens are md5-digested ONCE and Horner-combined into shingle hashes
    (``shingle_hashes``); the ``num_hashes`` lanes then re-mix each
    31-bit shingle hash with multiplicative universal hashing
    ``(a_i·h + b_i) mod (2^31-1)`` — fixed-width arithmetic, far cheaper
    than hashing variable-length strings per lane, which matters when
    the corpus is 100 TB of text. 31-bit operands keep every multiply
    inside a 64-bit long, so ANSI mode can't overflow. The md5 base
    (instead of the faster engine-internal xxhash64) makes the whole
    signature replayable in DuckDB SQL — the correctness gate
    hash-checks the operator end to end. P(minhash_i equal) = Jaccard of
    the shingle sets.

    ``vectorized`` (the default) computes the whole
    tokenize-hash-combine-remix chain in one Arrow-batched numpy kernel
    (``_minhash_sig_udf``) instead of JVM higher-order functions —
    bit-identical output, and the only path whose COLD cost survives a
    large corpus (the HOF chain is interpreted; SCALING.md round 6
    measured it ≥4 min for 500k docs vs ~16 s fused).
    ``vectorized=False`` keeps the pure-expression path as the
    cross-implementation parity reference (test_dedup pins equality)."""
    params = lane_params(num_hashes)
    if vectorized:
        sig_udf = _minhash_sig_udf(params, shingle_k)
        toks = F.split(normalize_text(F.col(text_col)), " ")
        return spread(df).select(F.col(id_col).alias("id"), sig_udf(toks).alias("minhash"))
    base = shingle_hashes(F.col(text_col), shingle_k)
    with_base = spread(df).select(F.col(id_col).alias("id"), base.alias("__hashes"))

    def lane(a: int, b: int):
        # factory: a single-arg lambda (default-arg lambdas are mistaken
        # for pyspark's multi-arg higher-order-function form)
        return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MERSENNE31)

    sig = F.array(
        *[
            F.array_min(F.transform(F.col("__hashes"), lane(a, b)))
            for a, b in params
        ]
    )
    return with_base.select("id", sig.alias("minhash"))


def lsh_candidate_pairs(
    signatures: DataFrame, bands: int = 8, rows_per_band: int = 4
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) from banded minhash signatures.

    Docs agreeing on ALL rows of ANY band share a bucket. The bucket key is
    the concatenation of the band's minhash values (portable — the DuckDB
    oracle builds the identical key); the bucket join shuffles only
    (band, key, id) and a self-join per bucket yields pairs. Bucket skew
    (a degenerate shingle shared by everything) is bounded because the
    bucket key includes all ``rows_per_band`` minhashes."""
    assert bands * rows_per_band <= 1 << 10
    banded = lsh_band_keys(signatures.cache(), bands, rows_per_band)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def jaccard_at_least(i, total, threshold: float):
    """Integer-exact predicate for intersect/union Jaccard ≥ threshold.

    ``i`` is the intersect size and ``total`` = |A| + |B| (so the union is
    ``total - i``). Written as ``(d+n)·i >= n·total`` with n/d the exact
    rational of the threshold's decimal literal, it is pure integer math:

    - it references ``i`` ONCE, so when Catalyst pushes the predicate into
      a join condition and substitutes the projection alias, the (costly)
      intersect expression is inlined a single time — the division form
      ``i/(total-i) >= t`` would inline it twice and double the dominant
      per-candidate work (see test_plan_invariants single-intersect pins);
    - it is exact: equivalent over the integers to the REAL predicate
      i/union ≥ n/d (for union > 0 — guard separately if both sides can
      be empty), with no float rounding to diverge from a DuckDB oracle's
      division-form comparison at ratio-equals-threshold boundaries
      (e.g. i/u = 3/5 against t = 0.6, where float multiplication by
      0.6̂/1.6̂ can flip the decision).
    """
    from fractions import Fraction

    frac = Fraction(str(threshold))  # decimal-literal exact, not repr(float)
    n, d = frac.numerator, frac.denominator
    return (F.lit(d + n) * i) >= (F.lit(n) * total)


def lsh_band_keys(
    signatures: DataFrame, bands: int = 8, rows_per_band: int = 4
) -> DataFrame:
    """(id, band, bucket) band keys from minhash signatures — the stored
    LSH INDEX layout. Extracted from ``lsh_candidate_pairs`` (identical
    expression, so the oracle's bandrows CTE replays both) so that
    incremental consumers can band a NEW batch against a persisted
    corpus index without the self-join.

    Band → signature-index mapping comes from ``band_lane_indices``:
    consecutive slices while ``bands·rows ≤ LANE_POOL`` (the historical
    scheme, covering every fixed query), strided draws from the shared
    pool beyond it (the capped tuned scheme — signatures then carry
    ``LANE_POOL`` lanes, not ``bands·rows``)."""
    idx = band_lane_indices(bands, rows_per_band)
    return signatures.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.element_at("minhash", i + 1)
                                for i in idx[b]
                            ],
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


def jaccard_verify(
    pairs: DataFrame,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs; keeps pairs ≥ threshold.

    Payload join happens only for candidates (tiny vs corpus), and the
    shingle sets are recomputed JVM-side — cheaper than shipping shingle
    arrays through the LSH shuffle.

    The docs frame is SEMI-JOINED to the candidate id set BEFORE the
    shingle projection: Catalyst prunes columns, not rows, so without
    it the interpreted HOF shingle chain runs over the ENTIRE corpus —
    once per join side when the candidate side broadcasts. The r9 sf10
    profile measured exactly that: verify 62.8 s of the tuned funnel's
    86 s cold wall for ~800 output pairs; candidate-restricted shingles
    collapse it to the output-sized cost the docstring always claimed.
    The semi-join shuffles only doc ids; the candidate id set is
    output-sized, so AQE broadcasts it in any sane regime.

    The candidate frame itself is materialized ONCE via a lazy
    localCheckpoint: this function references it for the id set and the
    verify join, and downstream consumers multiply references further
    (connected_components symmetrizes its input — 2×) — without the
    checkpoint the banding self-join re-executes per reference (the r9
    sf10 funnel measured 237 s cold from exactly that compounding; 42 s
    with it). Candidates are output-sized, so the checkpoint is
    bounded; it is stored DISK_ONLY because the frame is read a handful
    of times while the blocks would otherwise sit in executor storage
    memory until the async ContextCleaner gets to them — in a
    small-heap session running many queries back-to-back that
    accumulation starved later broadcast builds (r9 endurance sweep)."""
    from pyspark.storagelevel import StorageLevel

    pairs = pairs.localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
    ids = (
        pairs.select(F.col("id_a").alias("__cid"))
        .unionAll(pairs.select(F.col("id_b").alias("__cid")))
        .distinct()
    )
    cand_docs = docs.join(
        ids, docs[id_col] == ids["__cid"], "leftsemi"
    )
    # sh is consumed TWICE (once per pair side). Un-materialized, Catalyst
    # plans the whole scan → semi-join → interpreted-HOF shingle subtree
    # once per side — two full document scans and two shingle passes per
    # execution (r12 plan dump: nodes 2-17 and 21-36 are the same subtree
    # twice). The frame is candidate-sized (one array row per candidate
    # doc), so one lazy DISK_ONLY checkpoint bounds it at any corpus size
    # and both join sides read the materialized rows (guide §2.4; same
    # discipline as the pairs checkpoint above).
    sh = spread(cand_docs).select(
        F.col(id_col).alias("id"),
        F.array_distinct(shingles(F.col(text_col), shingle_k)).alias("sh"),
    ).localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
    j = (
        pairs.join(sh.withColumnsRenamed({"id": "id_a", "sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({"id": "id_b", "sh": "sh_b"}), "id_b")
    )
    # sh_a/sh_b are distinct, so |A∪B| = |A|+|B|-|A∩B|: one intersect per
    # candidate pair instead of intersect + a materialized union array.
    # The threshold predicate uses the integer-exact rearranged form
    # (jaccard_at_least) that references the intersect size ONCE — Catalyst
    # substitutes projection aliases when it pushes the filter into the
    # join condition, and the division form i/greatest(ab-i,1) ≥ t would
    # re-inline array_intersect twice there, doubling the per-candidate
    # array work that dominates this plan. (ab > 0 excludes the both-empty
    # pair, which the division form sends to jaccard 0/1 = 0 < t.)
    assert threshold > 0, "threshold must be positive"
    sized = j.select(
        "id_a",
        "id_b",
        F.size(F.array_intersect("sh_a", "sh_b")).alias("i"),
        (F.size("sh_a") + F.size("sh_b")).alias("ab"),
    )
    kept = sized.filter(
        jaccard_at_least(F.col("i"), F.col("ab"), threshold) & (F.col("ab") > 0)
    )
    jac = F.col("i") / F.greatest(F.col("ab") - F.col("i"), F.lit(1))
    return kept.select("id_a", "id_b", jac.alias("jaccard"))


def _md5_half(s, hi: bool):
    """Portable 32-bit value from the top (hi) or next (lo) 8 hex chars of
    md5(s) — bit-identical in Spark and DuckDB."""
    return F.conv(F.substring(F.md5(s), 1 if hi else 9, 8), 16, 10).cast("long")


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", shingle_k: int = 2
) -> DataFrame:
    """(id, sim, k0..k3) SimHash signatures via explode + groupBy.

    ``sim`` is the 64-bit SimHash; ``k0..k3`` are its four 16-bit bands
    (k_b = bits [16b, 16b+16)), kept as separate columns so banding and
    Hamming distance never touch the sign bit.

    Shape: explode shingles → 64 flat ``sum(±1)`` aggregates — vectorized
    HashAggregate with map-side partial aggregation, one shuffle keyed on
    id — the formulation that scales to 100 TB corpora (a nested
    aggregate/zip_with over a 64-wide array compiles a huge codegen unit
    and loses map-side combine). Bit source is the two 32-bit halves of
    md5 (portable) rather than engine-internal xxhash64, so the DuckDB
    oracle replays signatures exactly."""
    sh = F.array_distinct(shingles(F.col(text_col), shingle_k))
    hashed = (
        spread(df)
        .select(F.col(id_col).alias("id"), F.explode(sh).alias("s"))
        .select("id", _md5_half(F.col("s"), hi=False).alias("lo"),
                _md5_half(F.col("s"), hi=True).alias("hi"))
    )

    # r12: build the 64 bit-sum aggregates and the band keys as single
    # F.expr() SQL strings — semantically the exact expressions the
    # previous chained-Column form produced, but parsed in one py4j call
    # each instead of ~2,000 individual Column operations (pure
    # driver-side construction cost: 9.6 s -> ~0.1 s per build; the
    # physical plan is unchanged).
    def bit_sql(j: int) -> str:
        src = "lo" if j < 32 else "hi"
        return f"(shiftright({src}, {j % 32}) & 1)"

    sums = hashed.groupBy("id").agg(
        *[
            F.expr(f"sum(CASE WHEN {bit_sql(j)} = 1 THEN 1 ELSE -1 END)").alias(
                f"b{j}"
            )
            for j in range(64)
        ]
    )

    def band_key_sql(b: int) -> str:
        terms = " + ".join(
            f"(CASE WHEN b{b * 16 + t} > 0 THEN CAST({1 << t} AS BIGINT) "
            "ELSE CAST(0 AS BIGINT) END)"
            for t in range(16)
        )
        return f"(CAST(0 AS BIGINT) + {terms})"

    keys = [F.expr(band_key_sql(b)).alias(f"k{b}") for b in range(4)]
    # bit-pattern shift into the top band is fine: shiftleft is a
    # bitwise op, not checked arithmetic
    sim_sql = " | ".join(f"shiftleft({band_key_sql(b)}, {16 * b})" for b in range(4))
    return sums.select("id", F.expr(f"CAST(0 AS BIGINT) | ({sim_sql})").alias("sim"), *keys)


def simhash_candidates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Near-dup candidates by SimHash banding: split the 64-bit hash into
    four 16-bit bands; any exact band match -> candidate (pigeonhole: covers
    all pairs with Hamming distance <= 3).

    Signatures are cached before the self-join so the expensive hash pass
    runs once, not once per join side."""
    sig = simhash_signatures(df, text_col, id_col).cache()
    banded = sig.select(
        "id",
        "sim",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.col(f"k{b}").alias("key"))
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select("id", "sim", "bb.band", "bb.key")
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.sim").bitwiseXOR(F.col("b.sim")))
            .cast("long")
            .alias("hamming"),
        )
        .distinct()
    )
    return pairs


def keep_best_per_key(
    df: DataFrame, keys: list[str], order_by: list, keep: int = 1
) -> DataFrame:
    """Generic keep-best dedup: row_number over (keys, order) ≤ keep."""
    w = W.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= keep)
        .drop("__rn")
    )


def _doc_gram_arrays(
    df: DataFrame, k: int, text_col: str, id_col: str, positional: bool
) -> DataFrame:
    """(doc_id, gs) — one row per document holding its k-gram md5-hex
    ARRAY (position-ordered when ``positional``, the distinct set
    otherwise), via the rank-cache Arrow kernels. Not checkpointed:
    single-consumer callers pay nothing; multi-consumer callers
    checkpoint the frame themselves (the array row is the slimmest
    thing to materialize — one row per document, not one per gram)."""
    from ror_etl_spark.functions.text import (
        gram_hash_seq_udf,
        normalize_text,
        winnow_fp_set_udf,
    )

    d = spread(df)
    kernel = gram_hash_seq_udf(k=k) if positional else winnow_fp_set_udf(k=k, w=1)
    # asNondeterministic (guide §4.4): a downstream explode infers a
    # size(gs) > 0 filter, and Catalyst evaluates a deterministic UDF
    # once BELOW that pushed filter and again in the projection above —
    # every document paid the gram kernel twice (seen in the r12 plan
    # dump of dedup_hot_gram_report: two ArrowEvalPython nodes). Scoped
    # here so the shared kernel factories keep their plans elsewhere.
    return d.select(
        F.col(id_col).alias("doc_id"),
        kernel.asNondeterministic()(normalize_text(F.col(text_col))).alias("gs"),
    )


def _doc_grams(
    df: DataFrame,
    k: int,
    text_col: str,
    id_col: str,
    positional: bool,
    checkpoint: bool = True,
):
    """(doc_id, [pos,] g) rows of per-document k-gram md5 hexes over the
    normalized text, via the rank-cache Arrow kernels. Lazily
    checkpointed by default so multiple consumers reuse one kernel
    execution; pass ``checkpoint=False`` when the stream has exactly one
    consumer (the materialization would be pure overhead)."""
    arr = _doc_gram_arrays(df, k, text_col, id_col, positional)
    if positional:
        g = arr.select(
            "doc_id", F.posexplode("gs").alias("pos0", "g")
        ).select("doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "g")
    else:
        g = arr.select("doc_id", F.explode("gs").alias("g"))
    return g.localCheckpoint(eager=False) if checkpoint else g


def _hot_grams(g: DataFrame, cap: int, input_distinct: bool = True) -> DataFrame:
    """Grams whose DOCUMENT frequency exceeds ``cap`` — the disclosed
    skew ceiling of the exact-substring family (one viral boilerplate
    string would otherwise serialize a single reducer with a
    corpus-quadratic pair bucket). The list is tiny (bounded by the
    number of boilerplate strings), so AQE broadcasts the anti-join.

    ``input_distinct`` (the set-kernel path): rows are already one per
    (doc, gram), so a plain map-side-combinable ``count(*)`` IS the
    document frequency — ``count_distinct`` would pay an Expand + a
    second aggregate for nothing. The positional path passes False and
    dedups (doc_id, g) first, which partial-aggregates the per-document
    gram repetition away before the shuffle."""
    if not input_distinct:
        g = g.select("doc_id", "g").distinct()
    return (
        g.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > cap)
        .select("g")
    )


def exact_substring_pairs(
    df: DataFrame,
    k: int = 32,
    cap: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_a, id_b, n_shared): document pairs sharing ≥ 1 exact k-char
    substring of normalized text, counted by distinct shared k-grams,
    excluding grams over the ``cap`` document-frequency ceiling (see
    ``hot_gram_report``). Sound and complete for the ≥-k-substring
    relation on the kept grams: a common substring of length ≥ k
    contains an aligned k-gram and a shared k-gram IS such a
    substring.

    Plan shape (r12 optimization round): the gram stream crosses ONE
    g-keyed exchange — each gram's (≤ cap, by the hot-gram ceiling)
    sorted doc list is collected and the co-occurring pairs come from an
    array-combination expression inside the group (the winnow-pairs
    precedent), replacing the stream self-join that shuffled (or, under
    AQE's local size estimate, broadcast) the full gram stream twice and
    planned the hot-gram aggregate once per join side. The set kernel
    already emits per-doc-distinct grams, so the hot-gram document
    frequencies partial-aggregate map-side off the same checkpointed
    array frame."""
    arr = _doc_gram_arrays(df, k, text_col, id_col, positional=False)
    arr = arr.localCheckpoint(eager=False)  # two consumers: hot + stream
    g = arr.select("doc_id", F.explode("gs").alias("g"))
    kept = g.join(_hot_grams(g, cap), "g", "left_anti")
    occ = kept.groupBy("g").agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
    ds = F.col("ds")
    combos = F.flatten(
        F.transform(
            ds,
            lambda x, i: F.transform(
                F.slice(ds, i + 2, F.size(ds)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        occ.select(F.explode(combos).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def exact_substring_spans(
    df: DataFrame,
    k: int = 32,
    cap: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_a, id_b, start_a, start_b, length): maximal duplicated
    character ranges (1-based, over normalized text) per document pair —
    the actionable suffix-array-dedup deliverable (which bytes to cut).

    A maximal run of m consecutive aligned k-grams on one pair diagonal
    (pos_a - pos_b) is exactly a maximal common substring of length
    m + k - 1; runs are found with one gaps-and-islands window per
    (pair, diagonal). Hot grams (df > cap) are excluded first, so a
    boilerplate region splits/shortens spans — disclosed, like the
    winnow stop-gram cap.

    Plan shape (r12 optimization round): the positional gram stream
    crosses ONE g-keyed exchange — each kept gram's occurrence list
    (sorted by (doc_id, pos); ≤ cap documents by the hot-gram ceiling)
    is collected and the cross-document aligned pairs come from an
    array-combination expression inside the group, replacing the stream
    self-join (two stream shuffles at scale; a full-stream broadcast
    build under AQE's local estimate) and its per-side replan of the
    hot-gram aggregate. Hot-gram document frequencies come map-side from
    ``array_distinct`` on the checkpointed per-doc gram array — the
    (doc_id, g) distinct that used to shuffle the full stream is gone."""
    from pyspark.sql.window import Window

    arr = _doc_gram_arrays(df, k, text_col, id_col, positional=True)
    arr = arr.localCheckpoint(eager=False)  # two consumers: hot + stream
    hot = (
        arr.select(F.explode(F.array_distinct("gs")).alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > cap)
        .select("g")
    )
    pg = arr.select("doc_id", F.posexplode("gs").alias("pos0", "g")).select(
        "doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "g"
    )
    kept = pg.join(hot, "g", "left_anti")
    occ = kept.groupBy("g").agg(
        F.sort_array(F.collect_list(F.struct("doc_id", "pos"))).alias("os")
    )
    os_ = F.col("os")
    combos = F.flatten(
        F.transform(
            os_,
            lambda x, i: F.transform(
                F.filter(
                    F.slice(os_, i + 2, F.size(os_)),
                    lambda y: y["doc_id"] != x["doc_id"],
                ),
                lambda y: F.struct(
                    x["doc_id"].alias("id_a"),
                    y["doc_id"].alias("id_b"),
                    x["pos"].alias("pos_a"),
                    (x["pos"] - y["pos"]).alias("diag"),
                ),
            ),
        )
    )
    m = occ.select(F.explode(combos).alias("p")).select(
        "p.id_a", "p.id_b", "p.pos_a", "p.diag"
    )
    run = Window.partitionBy("id_a", "id_b", "diag").orderBy("pos_a")
    return (
        m.withColumn("grp", F.col("pos_a") - F.row_number().over(run))
        .groupBy("id_a", "id_b", "diag", "grp")
        .agg(
            F.min("pos_a").alias("start_a"),
            (F.count(F.lit(1)) + (k - 1)).alias("length"),
        )
        .select(
            "id_a",
            "id_b",
            "start_a",
            (F.col("start_a") - F.col("diag")).alias("start_b"),
            "length",
        )
    )


def hot_gram_report(
    df: DataFrame,
    k: int = 32,
    cap: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(gram_md5, n_docs): the grams the exact-substring family diverted
    — its alert-don't-fail disclosure channel. Single consumer, so the
    stream is not checkpointed (r12: the materialization was pure
    overhead); the per-doc-distinct set kernel makes the groupBy's
    map-side partials the document frequency directly."""
    g = _doc_grams(df, k, text_col, id_col, positional=False, checkpoint=False)
    return (
        g.groupBy("g")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > cap)
        .select(F.col("g").alias("gram_md5"), "n_docs")
    )


def exact_substring_cut(
    df: DataFrame,
    k: int = 32,
    cap: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """APPLY span-level dedup: per document, remove the character ranges
    duplicated from EARLIER documents (first occurrence wins — for every
    span pair id_a < id_b, the id_b side is the cut side), returning
    (doc_id, n_cut_spans, n_cut_chars, cleaned_len, cleaned_md5).

    The pipeline-shaped end of the suffix-array-dedup story: spans →
    ``cut_ranges`` (interval merge + segment reconstruction). The md5 of
    the cleaned text (not the text itself) is the output, so the result
    stays narrow and the DuckDB oracle hash-checks the exact
    reconstruction. Documents with nothing to cut pass through with
    n_cut_spans = 0 and the md5 of their full normalized text."""
    spans = exact_substring_spans(df, k=k, cap=cap, text_col=text_col, id_col=id_col)
    ranges = spans.select(
        F.col("id_b").alias("doc_id"),
        F.col("start_b").alias("s"),
        (F.col("start_b") + F.col("length") - 1).alias("e"),
    )
    return cut_ranges(df, ranges, text_col=text_col, id_col=id_col)


def cut_ranges(
    df: DataFrame,
    ranges: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Remove character ranges from documents: interval-merge the
    1-based inclusive (doc_id, s, e) ranges per document, then rebuild
    each document's normalized text without them.

    Per-doc interval merge is gaps-and-islands on a cumulative-max
    window — overlapping/touching ranges collapse so a region cut by
    many sources is cut once — then segment reconstruction: the kept
    text is the ordered concat of inter-interval gaps plus the tail,
    built with sort_array + array_join (pure JVM string ops). Only
    interval endpoints shuffle; the text joins back once, keyed by doc
    id. Shared by ``exact_substring_cut`` (dedup) and
    ``decontaminate_substring_cut`` (benchmark-overlap removal)."""
    from pyspark.sql import Window as PW

    from ror_etl_spark.functions.text import normalize_text

    w_prev = (
        PW.partitionBy("doc_id")
        .orderBy("s", "e")
        .rowsBetween(PW.unboundedPreceding, -1)
    )
    w_run = PW.partitionBy("doc_id").orderBy("s", "e")
    isl = ranges.withColumn("maxe", F.max("e").over(w_prev)).withColumn(
        "grp",
        F.sum(
            F.when(
                F.col("maxe").isNull() | (F.col("s") > F.col("maxe") + 1), 1
            ).otherwise(0)
        ).over(w_run),
    )
    merged = isl.groupBy("doc_id", "grp").agg(
        F.min("s").alias("s"), F.max("e").alias("e")
    )
    w_lag = PW.partitionBy("doc_id").orderBy("s")
    seg = merged.withColumn("prev_e", F.lag("e", 1, 0).over(w_lag))
    per_doc = seg.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_cut_spans"),
        F.sum(F.col("e") - F.col("s") + 1).alias("n_cut_chars"),
        F.sort_array(
            F.collect_list(F.struct("s", "prev_e"))
        ).alias("ivs"),
        F.max("e").alias("last_e"),
    )
    d = spread(df).select(
        F.col(id_col).alias("doc_id"), normalize_text(F.col(text_col)).alias("txt")
    )
    # merge hint: per_doc is DOC-domain-sized (one row per document with
    # cut spans, carrying an interval array), not a dim — AQE's estimate
    # sits near the 1g vanilla heap's broadcast cliff at sf0.1 (r11 sweep
    # caught chunk-1 'Not enough memory to build and broadcast'; r10's
    # pass was the lucky side of the same cliff). A shuffle join is also
    # the only plan that survives 100 TB, where per_doc ~ the corpus.
    joined = d.join(per_doc.hint("merge"), "doc_id", "left")
    gaps = F.array_join(
        F.transform(
            F.col("ivs"),
            lambda iv: F.col("txt").substr(
                (iv["prev_e"] + 1).cast("int"), (iv["s"] - iv["prev_e"] - 1).cast("int")
            ),
        ),
        "",
    )
    tail = F.col("txt").substr(
        (F.col("last_e") + 1).cast("int"), F.length("txt").cast("int")
    )
    cleaned = F.when(F.col("last_e").isNull(), F.col("txt")).otherwise(
        F.concat(gaps, tail)
    )
    return joined.select(
        "doc_id",
        F.coalesce(F.col("n_cut_spans"), F.lit(0)).cast("long").alias("n_cut_spans"),
        F.coalesce(F.col("n_cut_chars"), F.lit(0)).cast("long").alias("n_cut_chars"),
        F.length(cleaned).cast("long").alias("cleaned_len"),
        F.md5(cleaned).alias("cleaned_md5"),
    )


def decontaminate_substring_cut(
    corpus: DataFrame,
    bench: DataFrame,
    k: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SPAN-LEVEL benchmark decontamination: cut from every corpus
    document the maximal character ranges that appear verbatim (≥ k
    normalized chars) in ANY benchmark document, returning the same
    (doc_id, n_cut_spans, n_cut_chars, cleaned_len, cleaned_md5) shape
    as ``exact_substring_cut``.

    Same aligned-gram diagonal construction as the dedup spans, but
    across two tables — and deliberately WITHOUT the hot-gram ceiling:
    a benchmark string that went viral in the corpus is exactly the
    contamination that must be removed, and the skew economics differ
    from the self-join case. The gram join fans out to (corpus
    instance × benchmark occurrences of that gram): the benchmark side
    is benchmark-scale (broadcast — the corpus side never shuffles for
    the join, the 100 TB shape shared with decontaminate_ngram_overlap),
    and every joined row lies inside a span that WILL be cut, so the
    fan-out is output-sized, not quadratic in the corpus."""
    from pyspark.sql.window import Window

    # both gram streams have exactly one consumer (the broadcast join),
    # so neither is checkpointed (r12: materializing the corpus-side
    # positional stream to local blocks was pure overhead)
    bg = _doc_grams(
        bench, k, text_col, id_col, positional=True, checkpoint=False
    ).select(F.col("doc_id").alias("bench_id"), F.col("pos").alias("pos_a"), "g")
    cg = _doc_grams(corpus, k, text_col, id_col, positional=True, checkpoint=False)
    m = cg.join(F.broadcast(bg), "g").select(
        "doc_id",
        "bench_id",
        F.col("pos").alias("pos_b"),
        (F.col("pos_a") - F.col("pos")).alias("diag"),
    )
    run = Window.partitionBy("doc_id", "bench_id", "diag").orderBy("pos_b")
    ranges = (
        m.withColumn("grp", F.col("pos_b") - F.row_number().over(run))
        .groupBy("doc_id", "bench_id", "diag", "grp")
        .agg(F.min("pos_b").alias("s"), (F.min("pos_b") + F.count(F.lit(1)) + (k - 2)).alias("e"))
        .select("doc_id", "s", "e")
    )
    return cut_ranges(corpus, ranges, text_col=text_col, id_col=id_col)
