"""Property-based tests (hypothesis): the distributed operators must agree
with trivially-correct single-process reference implementations on random
inputs — the strongest guard against fixpoint/window edge cases."""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st

from ror_etl_spark.operators.asof import asof_join
from ror_etl_spark.operators.rollup import ultimate_parent


# Acyclic forests: parent[i] <= i guarantees chains terminate at self-loops,
# so the expected mapping is a simple chase.
@st.composite
def forests(draw):
    n = draw(st.integers(min_value=1, max_value=40))
    parents = [draw(st.integers(min_value=0, max_value=i)) for i in range(n)]
    return parents


def _chase(parents: list[int], i: int) -> int:
    while parents[i] != i:
        i = parents[i]
    return i


@pytest.mark.parametrize("lt", [0, 10**6], ids=["distributed", "single-task"])
@given(forests())
@settings(max_examples=15, deadline=None)
def test_rollup_matches_reference_chase(spark, lt, parents):
    # both physical strategies must match the sequential reference chase
    # on arbitrary forests (the adaptive default would route these small
    # inputs to single-task; lt=0 keeps hypothesis pressure on the
    # distributed fixpoint too)
    edges = spark.createDataFrame(
        [(i, p) for i, p in enumerate(parents)], "id long, parent long"
    )
    got = {
        r["id"]: r["ultimate_parent"]
        for r in ultimate_parent(
            edges, max_depth=64, local_threshold=lt
        ).mapping.collect()
    }
    want = {i: _chase(parents, i) for i in range(len(parents))}
    assert got == want


@st.composite
def asof_inputs(draw):
    ts = st.integers(min_value=0, max_value=50)
    n_left = draw(st.integers(min_value=1, max_value=12))
    n_right = draw(st.integers(min_value=0, max_value=12))
    left = [(draw(st.integers(0, 2)), draw(ts), i) for i in range(n_left)]
    right = [
        (draw(st.integers(0, 2)), draw(ts), 100 + i, float(i)) for i in range(n_right)
    ]
    return left, right


@given(asof_inputs())
@settings(max_examples=15, deadline=None)
def test_asof_matches_reference_scan(spark, data):
    left_rows, right_rows = data
    left = spark.createDataFrame(left_rows, "k long, t long, lid long")
    right = spark.createDataFrame(right_rows, "k long, rt long, rid long, rv double")
    out = asof_join(
        left,
        right,
        on="k",
        left_time="t",
        right_time="rt",
        right_values=["rv"],
        right_order=["rid"],
    )
    got = {r["lid"]: r["rv"] for r in out.collect()}

    def expected(k, t):
        # latest right at/before t for key k; ties broken by the operator's
        # sort order (last in (time, rid) order); rid increases with insert
        cands = [(rt, rid, rv) for (rk, rt, rid, rv) in right_rows if rk == k and rt <= t]
        if not cands:
            return None
        return max(cands)[2]

    want = {lid: expected(k, t) for (k, t, lid) in left_rows}
    assert got == want


@st.composite
def doc_pairs(draw):
    """Two documents sharing a random common substring, plus noise."""
    alphabet = st.text(alphabet="abcdefgh ", min_size=0, max_size=30)
    shared = draw(st.text(alphabet="abcdefgh ", min_size=11, max_size=40))
    pre_a, post_a = draw(alphabet), draw(alphabet)
    pre_b, post_b = draw(alphabet), draw(alphabet)
    return (pre_a + shared + post_a, pre_b + shared + post_b)


@given(doc_pairs())
@settings(max_examples=12, deadline=None)
def test_winnow_shared_substring_property(spark, pair):
    """MOSS guarantee under random inputs: any shared substring of length
    >= k + w - 1 (11) in the NORMALIZED text yields a common fingerprint.
    Normalization can shorten the shared run (whitespace collapse at the
    seams), so only assert when the normalized forms still share 11+."""
    from ror_etl_spark.functions.text import winnow_hashes, winnow_select
    from pyspark.sql import functions as F

    a, b = pair

    def norm(s: str) -> str:
        import re

        return re.sub(r"\s+", " ", s.lower()).strip()

    def shares_11(x: str, y: str) -> bool:
        xs = {x[i : i + 11] for i in range(max(0, len(x) - 10))}
        return any(sub in y for sub in xs)

    if not shares_11(norm(a), norm(b)):
        return  # normalization broke the planted overlap; property vacuous
    df = spark.createDataFrame([(1, a), (2, b)], "id long, text string")
    rows = (
        df.select("id", winnow_hashes(F.col("text")).alias("hs"))
        .select("id", winnow_select(F.col("hs")).alias("fps"))
        .collect()
    )
    fps = {r["id"]: set(r["fps"]) for r in rows}
    assert fps[1] & fps[2]


@given(
    st.lists(st.integers(min_value=0, max_value=400), min_size=1, max_size=300),
    st.integers(min_value=1, max_value=5),
)
@settings(max_examples=200, deadline=None)
def test_kmv_bottomk_merge_is_distributive(values, n_batches):
    """KMV merge law: splitting a stream into arbitrary micro-batches and
    merging per-batch bottom-k sketches must equal the bottom-k of the
    whole — the property the per-day KMV sketch union relies on."""
    import hashlib

    k = 16

    def h(v):
        return int(hashlib.md5(str(v).encode()).hexdigest()[:13], 16)

    whole = sorted({h(v) for v in values})[:k]
    batches = [values[i::n_batches] for i in range(n_batches)]
    merged: set = set()
    for b in batches:
        sketch = sorted({h(v) for v in b})[:k]  # per-batch bottom-k
        merged = set(sorted(merged | set(sketch))[:k])  # KMV union
    assert sorted(merged) == whole


@given(
    st.lists(
        st.frozensets(st.integers(min_value=0, max_value=60), min_size=1, max_size=30),
        min_size=2,
        max_size=12,
    )
)
@settings(max_examples=300, deadline=None)
def test_prefix_filter_lemma_never_loses_pairs(sets):
    """The prefix-filter pruning rule used by dedup_prefix_filter_jaccard:
    with a global (df asc, token) order and prefix length floor((1-t)n)+1,
    every pair with Jaccard >= t must share a token inside BOTH prefixes —
    including the PPJoin length and positional refinements. An off-by-one
    in any constant would silently drop pairs on some input; the fixture
    oracle can't explore that space, hypothesis can."""
    import math as m

    t = 0.6
    from collections import Counter

    df = Counter(tok for s in sets for tok in s)
    order = lambda tok: (df[tok], tok)

    def prefix(s):
        ordered = sorted(s, key=order)
        return ordered[: int(m.floor((1 - t) * len(s))) + 1]

    for i in range(len(sets)):
        for j in range(i + 1, len(sets)):
            a, b = sets[i], sets[j]
            inter = len(a & b)
            jac = inter / (len(a) + len(b) - inter)
            if jac < t:
                continue
            pa = {tok: rk + 1 for rk, tok in enumerate(prefix(a))}
            pb = {tok: rk + 1 for rk, tok in enumerate(prefix(b))}
            shared = set(pa) & set(pb)
            assert shared, (a, b, jac)
            # length filter must keep the pair
            assert min(len(a), len(b)) >= t * max(len(a), len(b))
            # positional filter must keep it for at least one shared token
            alpha = m.ceil(t / (1 + t) * (len(a) + len(b)))
            assert any(
                1 + min(len(a) - pa[s], len(b) - pb[s]) >= alpha for s in shared
            ), (a, b, jac)


def test_jaccard_at_least_matches_exact_rational(spark):
    """The integer-rearranged threshold predicate (jaccard_at_least) must
    agree with exact rational arithmetic i/union >= t on every (i, union)
    pair — including ratio-equals-threshold boundaries, where a float
    multiplication form can flip against the division form the DuckDB
    oracles compute. Deterministic dense sweep: all 0 <= i <= u <= 40
    against the thresholds the registered queries pin plus non-dyadic
    neighbors."""
    from fractions import Fraction

    from pyspark.sql import functions as F

    from ror_etl_spark.operators.dedup import jaccard_at_least

    rows = [(i, u) for u in range(1, 41) for i in range(0, u + 1)]
    df = spark.createDataFrame(rows, "i long, u long")
    for t in (0.5, 0.6, 0.7, 0.3, 0.9):
        got = {
            (r["i"], r["u"]): r["keep"]
            for r in df.select(
                "i",
                "u",
                jaccard_at_least(
                    F.col("i"), F.col("u") + F.col("i"), t  # total = |A|+|B| = u+i
                ).alias("keep"),
            ).collect()
        }
        frac = Fraction(str(t))
        for (i, u), keep in got.items():
            assert keep == (Fraction(i, u) >= frac), (i, u, t)


@st.composite
def span_corpora(draw):
    """2-4 documents assembled from a shared snippet pool plus private
    glue — generates overlapping, repeated, and nested duplicate
    structure without whitespace (so normalization is the identity)."""
    snippets = draw(
        st.lists(
            st.text(alphabet="abcdefgh", min_size=12, max_size=50),
            min_size=1,
            max_size=3,
        )
    )
    n_docs = draw(st.integers(min_value=2, max_value=4))
    docs = []
    for i in range(n_docs):
        parts = []
        for _ in range(draw(st.integers(min_value=1, max_value=3))):
            if snippets and draw(st.booleans()):
                parts.append(draw(st.sampled_from(snippets)))
            parts.append(draw(st.text(alphabet="mnopqrst", min_size=0, max_size=25)))
        docs.append((i + 1, "".join(parts)))
    return docs


def _maximal_common_substrings(a: str, b: str, L: int):
    """Independent reference: ALL maximal common substrings of length >= L,
    by the suffix-array definition — a match (i, j) extended left/right
    as far as the characters agree, reported once per (start_a, start_b).
    O(len(a)·len(b)); fine for test-sized strings."""
    out = set()
    for i in range(len(a)):
        for j in range(len(b)):
            if a[i] != b[j]:
                continue
            if i > 0 and j > 0 and a[i - 1] == b[j - 1]:
                continue  # not a maximal-match start
            m = 0
            while i + m < len(a) and j + m < len(b) and a[i + m] == b[j + m]:
                m += 1
            if m >= L:
                out.add((i + 1, j + 1, m))  # 1-based like the operator
    return out


@given(span_corpora())
@settings(max_examples=10, deadline=None)
def test_exact_substring_spans_equal_maximal_common_substrings(spark, docs):
    """The span operator's defining theorem, checked on random corpora:
    its output per pair must equal EXACTLY the maximal common substrings
    of length >= k (k=12 here so small snippets exercise it), as
    enumerated by an independent quadratic reference. Cap is set high so
    no gram diverts."""
    from ror_etl_spark.operators.dedup import exact_substring_spans

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got: dict[tuple[int, int], set] = {}
    for r in exact_substring_spans(df, k=12, cap=10**6).collect():
        got.setdefault((r["id_a"], r["id_b"]), set()).add(
            (r["start_a"], r["start_b"], r["length"])
        )
    texts = dict(docs)
    want: dict[tuple[int, int], set] = {}
    for ia, ta in docs:
        for ib, tb in docs:
            if ia < ib:
                spans = _maximal_common_substrings(ta, tb, 12)
                if spans:
                    want[(ia, ib)] = spans
    assert got == want


@given(span_corpora())
@settings(max_examples=8, deadline=None)
def test_exact_substring_cut_property(spark, docs):
    """Cut semantics on random corpora, vs an independent reference: a
    document's cleaned text is its own text minus every character
    position covered by a maximal >=k common substring with ANY earlier
    document (interval union). Checks the md5, length, and cut totals."""
    import hashlib

    from ror_etl_spark.operators.dedup import exact_substring_cut

    k = 12
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r for r in exact_substring_cut(df, k=k, cap=10**6).collect()}
    for ib, tb in docs:
        covered = set()
        for ia, ta in docs:
            if ia >= ib:
                continue
            for _, sb, m in _maximal_common_substrings(ta, tb, k):
                covered.update(range(sb - 1, sb - 1 + m))  # 0-based positions in tb
        cleaned = "".join(c for i, c in enumerate(tb) if i not in covered)
        r = got[ib]
        assert r["n_cut_chars"] == len(covered), (ib, docs)
        assert r["cleaned_len"] == len(cleaned)
        assert r["cleaned_md5"] == hashlib.md5(cleaned.encode()).hexdigest()


@st.composite
def vector_corpora(draw):
    n = draw(st.integers(min_value=2, max_value=24))
    dim = 4
    vecs = [
        [
            draw(st.integers(min_value=-4, max_value=4)) / 2.0
            for _ in range(dim)
        ]
        for _ in range(n)
    ]
    # avoid zero vectors (cosine undefined)
    vecs = [v if any(x != 0 for x in v) else [1.0, 0.0, 0.0, 0.0] for v in vecs]
    return vecs


@given(vector_corpora())
@settings(max_examples=12, deadline=None)
def test_semdedup_single_cell_matches_reference(spark, vecs):
    """With one cell, semdedup_prune's (pruned, dup_of) must equal the
    trivially-correct reference: dup_of(i) = min{j < i : round6 cosine
    ≥ τ}, computed with a plain double loop."""
    import math

    from ror_etl_spark.operators.similarity import semdedup_prune

    tau = 0.9

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb)

    expect = {}
    for i in range(len(vecs)):
        ws = [j for j in range(i) if round(cos(vecs[i], vecs[j]), 6) >= tau]
        expect[i] = min(ws) if ws else None

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    )
    got = {
        r["vec_id"]: r["dup_of"]
        for r in semdedup_prune(
            df, threshold=tau, n_centroids=1, train_iters=0
        ).collect()
    }
    assert got == expect


# ---------------------------------------------------------------------------
# Round-7 session-5: debounce kernel and skyline vs reference scans


@st.composite
def event_streams(draw):
    n = draw(st.integers(min_value=1, max_value=60))
    rows = []
    for i in range(n):
        key = draw(st.integers(min_value=0, max_value=3))
        # timestamps cluster tightly so refractory chains actually form
        tus = draw(st.integers(min_value=0, max_value=5_000)) * 1_000_000
        rows.append((key, tus, i))
    return rows


@given(event_streams())
@settings(max_examples=15, deadline=None)
def test_debounce_kernel_matches_greedy_walk(spark, rows):
    import pandas as pd

    from ror_etl_spark.queries.temporal2 import dedup_events_debounce

    pdf = pd.DataFrame(
        {
            "user_id": [r[0] for r in rows],
            "event_type": ["x"] * len(rows),
            "event_id": [r[2] for r in rows],
            "ts": pd.to_datetime([r[1] * 1000 for r in rows]),
            "value": [0.0] * len(rows),
        }
    )
    import os
    import tempfile

    d = tempfile.mkdtemp()
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        os.path.join(d, "events.parquet")
    )
    got = {
        r["event_type"]: (r["n_total"], r["n_kept"], r["kept_id_sum"])
        for r in dedup_events_debounce(spark, d).collect()
    }
    from collections import defaultdict

    groups = defaultdict(list)
    for key, tus, eid in rows:
        groups[key].append((tus, eid))
    n_total = len(rows)
    n_kept = 0
    ksum = 0
    for lst in groups.values():
        lst.sort()
        last = None
        for tus, eid in lst:
            if last is None or tus >= last + 600_000_000:
                n_kept += 1
                ksum += eid
                last = tus
    assert got == {"x": (n_total, n_kept, ksum)}


@st.composite
def point_sets(draw):
    n = draw(st.integers(min_value=1, max_value=50))
    return [
        (
            draw(st.integers(min_value=0, max_value=20)),  # cost
            draw(st.integers(min_value=0, max_value=20)),  # size
            i,
        )
        for i in range(n)
    ]


@given(point_sets())
@settings(max_examples=15, deadline=None)
def test_skyline_matches_dominance_scan(spark, pts):
    """global_cummax-based skyline == quadratic dominance reference on
    random (cost, size) multisets, including duplicate points and
    all-dominated columns."""
    import pyspark.sql.functions as F

    from ror_etl_spark.operators.util import global_cummax

    df = spark.createDataFrame(
        [(c, s, i) for c, s, i in pts], "cost long, size long, pk long"
    )
    cm = df.groupBy("cost").agg(F.max("size").alias("mq"))
    frontier = (
        global_cummax(cm, ["cost"], "mq", out="pm", n_parts=3)
        .filter(F.col("pm").isNull() | (F.col("mq") > F.col("pm")))
        .select("cost", F.col("mq").alias("size"))
    )
    got = {
        (r["pk"], r["cost"], r["size"])
        for r in df.join(F.broadcast(frontier), ["cost", "size"]).collect()
    }
    want = {
        (i, c, s)
        for (c, s, i) in pts
        if not any(
            oc <= c and os_ >= s and (oc < c or os_ > s) for (oc, os_, _) in pts
        )
    }
    assert got == want
