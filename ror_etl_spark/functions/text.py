"""Text-analysis column functions for LLM-data-pipeline use.

Everything here returns a pyspark Column built from built-in functions
(JVM-side, whole-stage codegen), except the one Arrow-batched kernel
(``winnow_stats_udf``) whose rank-cache removes ~99.9% of the md5 calls
the expression chain pays per position. These are the primitives the
dedup family and the text queries compose.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F

WHITESPACE_RE = r"\s+"

# Tiny per-language stopword lists for the n-gram-free heuristic language
# identifier. Public common-word lists; enough to separate the five testdata
# languages on real text.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "nicht", "mit", "zu"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "una", "es", "por"],
    "fr": ["le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"],
    "zh": ["的", "是", "了", "在", "我", "有", "和", "就", "不", "人"],
}


def normalize_text(col: Column) -> Column:
    """Canonical form for exact dedup / fingerprinting: lowercase, collapse
    whitespace runs, trim."""
    return F.trim(F.regexp_replace(F.lower(col), WHITESPACE_RE, " "))


def tokens(col: Column) -> Column:
    """Whitespace tokenization of normalized text."""
    return F.split(normalize_text(col), " ")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def word_ngrams(toks: Column, n: int) -> Column:
    """Space-joined word n-grams of a token array, as array<string>.

    Same strings as ``transform(sequence(0, size(t)-n), i ->
    array_join(slice(t, i+1, n), ' '))`` but built from n shifted
    ``slice``s folded with ``zip_with``: a higher-order lambda
    re-evaluates every OUTER expression it references per element, so
    the indexed form re-ran the token-array expression (typically a
    ``split`` of the document) once per position — O(n_positions)
    re-tokenizes per document (r12 event-log profile; the same trap as
    ``operators.dedup.shingles``). Here the array children are
    evaluated once per row and the lambdas touch only their own
    arguments.

    Callers must guard ``size(toks) >= n`` (as all current sites do —
    the indexed form's ``sequence(0, negative)`` was equally undefined
    there); this form returns [] for shorter inputs."""
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    out = F.slice(toks, 1, m)
    for j in range(1, n):
        out = F.zip_with(
            out, F.slice(toks, j + 1, m), lambda a, b: F.concat_ws(" ", a, b)
        )
    return out


def sorted_runs(st: Column) -> Column:
    """Run-length encoding of a SORTED array column, as
    array<struct<s:int, c:int>>: ``s`` the 0-based index where each run of
    equal adjacent elements starts, ``c`` its length. This is the map-side
    replacement for ``explode → groupBy(doc_id, token)``: within-row
    frequency questions (top count, entropy, per-doc term counts) become
    array arithmetic inside whole-stage codegen, and the data-sized
    exchange of the exploded stream disappears.

    ``st`` MUST be a bound column (project the sorted array in its own
    select first): a higher-order lambda re-evaluates every outer
    EXPRESSION it references once per element (the ``word_ngrams``
    lesson), so an inline ``array_sort(split(...))`` here would re-sort
    per element, while an attribute reference is a free read.

    Boundary detection uses 0-based ``get`` (out-of-bounds returns null,
    so index 0 never probes ``st[-1]``'s error path) and null-safe
    inequality, which also run-groups genuine null elements the way
    ``array_sort`` groups them. Ends are the boundary list shifted left
    with ``size`` appended; lengths are the pairwise difference."""
    n = F.size(st)
    starts = F.filter(
        F.sequence(F.lit(0), n - 1),
        lambda i: (i == F.lit(0)) | ~F.get(st, i).eqNullSafe(F.get(st, i - 1)),
    )
    ends = F.concat(
        F.slice(starts, 2, F.greatest(F.size(starts) - 1, F.lit(0))),
        F.array(n),
    )
    runs = F.zip_with(
        starts, ends, lambda s, e: F.struct(s.alias("s"), (e - s).alias("c"))
    )
    return F.when(n >= 1, runs).otherwise(
        F.array().cast("array<struct<s:int,c:int>>")
    )


def run_counts(runs: Column) -> Column:
    """Just the run lengths of a ``sorted_runs`` result, as array<int>."""
    return F.transform(runs, lambda r: r["c"])


def bpe_ish_token_count(col: Column) -> Column:
    """Cheap LLM-token estimate: count word-piece-ish units — runs of
    letters, runs of digits, or single punctuation — via regex extraction.
    ~chars/4 on English; a deterministic stand-in for a real BPE vocab."""
    return F.size(F.regexp_extract_all(col, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0))


def fingerprint_md5(col: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text —
    portable across engines (DuckDB md5 produces the identical hex)."""
    return F.md5(normalize_text(col))


def stopword_ratio(col: Column, lang: str = "en") -> Column:
    """Fraction of tokens that are stopwords of ``lang``."""
    toks = tokens(col)
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    n_sw = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return n_sw / F.greatest(F.size(toks), F.lit(1))


def punct_ratio(col: Column) -> Column:
    """Fraction of non-space characters that are punctuation/symbols."""
    nonspace = F.length(F.regexp_replace(col, r"\s", ""))
    punct = F.length(F.regexp_replace(col, r"[A-Za-z0-9\s]", ""))
    return punct / F.greatest(nonspace, F.lit(1))


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic: rewards mid-length documents,
    low punctuation density, and reasonable mean token length — the
    standard cheap pre-filter before expensive LLM-data cleaning."""
    n_tok = token_count(col)
    len_score = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    mean_tok_len = F.length(normalize_text(col)) / F.greatest(n_tok, F.lit(1))
    tok_len_score = F.when((mean_tok_len >= 3) & (mean_tok_len <= 10), 1.0).otherwise(0.5)
    punct_score = F.lit(1.0) - F.least(punct_ratio(col) * 4, F.lit(1.0))
    return (len_score + tok_len_score + punct_score) / 3


def _contains_any(words: list[str]):
    """Single-arg lambda factory (a default-arg lambda would be mistaken
    for pyspark's two-arg (element, index) form)."""
    arr = F.array(*[F.lit(w) for w in words])
    return lambda t: F.array_contains(arr, t)


def lang_id(col: Column) -> Column:
    """Heuristic language ID: the language whose stopword list overlaps the
    token set most ('und' when nothing matches; ties resolve to the
    lexicographically last language code). Pure JVM expression — at 100 TB
    this runs inside codegen with no Python round-trip."""
    toks = F.array_distinct(tokens(col))
    scored = F.array(
        *[
            F.struct(
                F.size(F.filter(toks, _contains_any(words))).alias("score"),
                F.lit(code).alias("lang"),
            )
            for code, words in sorted(STOPWORDS.items())
        ]
    )
    best = F.array_max(F.filter(scored, lambda s: s["score"] > 0))
    return F.coalesce(best["lang"], F.lit("und"))


def _gram_hex_seq(t: str | None, k: int, cache: dict[str, str]) -> list[str]:
    """Positional k-gram md5 hexes of one (possibly null) text, through a
    per-batch rank cache — THE shared gram loop of the Arrow kernels
    (winnow_fp_set_udf / gram_hash_seq_udf), so null semantics and cache
    policy are fixed in exactly one place. Null or shorter-than-k text →
    empty list, mirroring ``winnow_hashes``'s guarded empty array."""
    import hashlib

    n = (0 if t is None else len(t)) - (k - 1)
    if n < 1:
        return []
    hx: list[str] = []
    for i in range(n):
        g = t[i : i + k]
        h = cache.get(g)
        if h is None:
            h = hashlib.md5(g.encode("utf-8")).hexdigest()
            cache[g] = h
        hx.append(h)
    return hx


def winnow_stats_udf(k: int = 8, w: int = 4):
    """Arrow-batched fused winnow statistics: normalized text in,
    (n_kgrams, n_fingerprints, min_fp) out — one kernel instead of the
    md5-per-position expression chain.

    Why: the JVM path hashes EVERY position's k-gram (~600 md5 per
    document), but gram repetition is enormous — measured 996× at the
    sf1 rehearsal tier (14.57M grams, 14.6k distinct) and still 7×
    under an open Heaps-law vocabulary — so hashing each DISTINCT gram
    once per batch removes ~99.9% / ~86% of the md5 work. Exactness is
    preserved by ranking: distinct grams are ranked by their md5 hex
    (lexicographic hex order on fixed-width lowercase hex == numeric
    digest order), windowed minima run on int64 ranks with numpy, and
    the global minimum maps back to its hex. Semantics replicate
    ``winnow_hashes`` + ``winnow_select`` exactly, including the edges:
    text shorter than k → (0, 0, null); fewer than w k-grams →
    n_fingerprints 0 with a non-null min_fp (parity-pinned in
    test_text)."""
    import hashlib

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<n_kgrams:int, n_fingerprints:int, min_fp:string>")
    def stats(texts: pd.Series) -> pd.DataFrame:
        grams: list[str] = []
        lens: list[int] = []
        for t in texts:
            # Null-safe like the JVM expression chain it replaces:
            # normalize_text(null) -> null -> winnow_hashes emits [], so a
            # null document must yield (0, 0, null), not a TypeError.
            n = (0 if t is None else len(t)) - (k - 1)
            if n < 1:
                lens.append(0)
                continue
            lens.append(n)
            grams.extend(t[i : i + k] for i in range(n))
        hex_of = {
            g: hashlib.md5(g.encode("utf-8")).hexdigest() for g in set(grams)
        }
        by_hex = sorted(hex_of.items(), key=lambda kv: kv[1])
        rank = {g: i for i, (g, _) in enumerate(by_hex)}
        hex_by_rank = [h for _, h in by_hex]
        r = np.fromiter((rank[g] for g in grams), dtype=np.int64, count=len(grams))
        out_k = np.zeros(len(lens), dtype=np.int32)
        out_f = np.zeros(len(lens), dtype=np.int32)
        out_m: list[str | None] = []
        pos = 0
        for j, n in enumerate(lens):
            if n == 0:
                out_m.append(None)
                continue
            rr = r[pos : pos + n]
            pos += n
            out_k[j] = n
            out_m.append(hex_by_rank[int(rr.min())])
            if n >= w:
                wmin = rr[: n - w + 1].copy()
                for sh in range(1, w):
                    np.minimum(wmin, rr[sh : sh + n - w + 1], out=wmin)
                out_f[j] = len(np.unique(wmin))
        return pd.DataFrame(
            {"n_kgrams": out_k, "n_fingerprints": out_f, "min_fp": out_m}
        )

    return stats


def winnow_fp_set_udf(k: int = 8, w: int = 4):
    """Arrow-batched winnowed-fingerprint SET per document: normalized
    text in, the distinct window-minima md5 hexes out (``w=1``
    degenerates to the full distinct k-gram hex set — the
    exact-substring join key set).

    Same rank-cache rationale as ``winnow_stats_udf``: md5 each DISTINCT
    gram once per batch (gram repetition measured 996× closed-vocab /
    7× open-vocab), windowed minima on per-row rank arrays. Emitting the
    SET (not per-position grams) keeps the Arrow payload at the
    winnowed density. Parity: identical to the relational
    posexplode + per-doc-window formulation — full windows only, so
    documents with fewer than w k-grams contribute nothing."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def fpset(texts: pd.Series) -> pd.Series:
        out: list[list[str]] = []
        cache: dict[str, str] = {}
        for t in texts:
            # null/short semantics live in _gram_hex_seq: fewer than w
            # k-grams (incl. null text) contributes the empty set, like
            # the relational formulation's full-windows-only rule
            hx = _gram_hex_seq(t, k, cache)
            n = len(hx)
            if n < w:
                out.append([])
                continue
            if w == 1:
                out.append(sorted(set(hx)))
                continue
            uniq, inv = np.unique(np.array(hx), return_inverse=True)
            wmin = inv[: n - w + 1].copy()
            for sh in range(1, w):
                np.minimum(wmin, inv[sh : sh + n - w + 1], out=wmin)
            out.append(uniq[np.unique(wmin)].tolist())
        return pd.Series(out)

    return fpset


def gram_hash_seq_udf(k: int = 32):
    """Arrow-batched POSITIONAL gram-hash sequence: normalized text in,
    the md5 hex of every position's k-gram out, in positional order —
    the span-level exact-substring operator needs positions, so unlike
    ``winnow_fp_set_udf`` this keeps the full sequence (posexplode
    downstream recovers (pos, hash)).

    Same rank-cache rationale as the other kernels: each DISTINCT gram
    is md5'd once per batch (gram repetition measured 996× closed-vocab
    / 7× open-vocab), and the hex strings are shared (interned dict
    values), so the Arrow payload — the irreducible term — dominates.
    Null-safe: a null or shorter-than-k document emits the empty
    sequence, like ``winnow_hashes``."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def seq(texts: pd.Series) -> pd.Series:
        cache: dict[str, str] = {}
        return pd.Series([_gram_hex_seq(t, k, cache) for t in texts])

    return seq


def winnow_hashes(col: Column, k: int = 8) -> Column:
    """All character-k-gram md5 fingerprints of the normalized text, in
    positional order. md5 hex is portable (DuckDB produces identical
    strings), so lexicographic min == deterministic hash min on both
    engines. Empty array when the text is shorter than k — guarded because
    Spark's ``sequence(1, 0)`` counts DOWN instead of returning []."""
    s = normalize_text(col)
    n = F.length(s) - (k - 1)
    grams = F.transform(
        F.sequence(F.lit(1), n), lambda i: F.md5(F.substr(s, i, F.lit(k)))
    )
    return F.when(n >= 1, grams).otherwise(F.array().cast("array<string>"))


def winnow_select(hashes: Column, w: int = 4) -> Column:
    """Winnowing document fingerprint (Schleimer/Wilkerson/Aiken, MOSS):
    the distinct set of per-window minima over the rolling k-gram hash
    sequence, window size ``w``. Guarantees any shared substring of length
    ≥ k + w - 1 contributes at least one common fingerprint — the standard
    rolling-hash fingerprint for plagiarism/near-dup detection, here as a
    pure JVM array expression (no UDF; scales inside codegen).

    ``hashes`` MUST be a materialized column (project :func:`winnow_hashes`
    in a separate select first), not the hash expression itself: each
    window's minimum repeats the reference, and inlining the k-gram
    pipeline there makes every window re-hash the whole document —
    O(n²) md5 calls per row. Against a bound column it's O(n·w).

    Each window's minimum is ``least`` over w direct ``element_at``
    references — NOT ``array_min(slice(...))``, which allocates a w-array
    per window; higher-order functions run interpreted (CodegenFallback),
    so that allocation was the dominant constant of the winnow pass (A/B
    at the sf1 rehearsal tier: 14.2 → 9.6 s for the fingerprint query).
    In-bounds j makes every element_at non-null, so least == array_min
    exactly. ``w == 1`` (every k-gram is its own window) degenerates to
    the distinct hash set — special-cased because ``least`` needs ≥ 2
    arguments."""
    n_win = F.size(hashes) - (w - 1)
    if w == 1:
        win_min = lambda j: F.element_at(hashes, j)  # noqa: E731
    else:
        win_min = lambda j: F.least(  # noqa: E731
            *[F.element_at(hashes, j + i) for i in range(w)]
        )
    wins = F.transform(F.sequence(F.lit(1), n_win), win_min)
    return F.array_distinct(
        F.when(n_win >= 1, wins).otherwise(F.array().cast("array<string>"))
    )
