"""Ultimate-parent rollup: transitive closure of a parent-pointer forest.

Reference semantics (georgetown-cset/ror-etl, ``get_ultimate_parent.py``):

- :13-39 ``traverse_parents`` follows ``id -> parent`` pointers until it
  reaches a self-loop (``ror_id == parent``), which marks a root.
- :10 recursion is capped at depth 200; on hitting the cap (a cycle or an
  absurdly deep chain) the pipeline does NOT fail — it alerts and uses the
  current in-chain node as the answer (:25-39).
- :76 parentless orgs map to themselves, so every id appears in the output.
- :77-79 when multiple ``parent`` relationships exist, the LAST one in the
  array wins, and the type match is case-insensitive.
- :80-81 duplicate ids hard-fail.

The reference walks the chain per-id recursively on one machine with the
whole dataset in a dict — O(n·depth) work, O(n) driver memory. This
implementation is a distributed **pointer-doubling fixpoint**: each
iteration substitutes every node's current ancestor with that ancestor's
ancestor, so reachable depth doubles per round — ⌈log2(depth)⌉ shuffles
instead of depth, no driver materialization, memoization implicit.

Scale notes (100 TB design):
- the iterated frame is exactly two string/long columns (id, anc) — each
  shuffle moves keys only, never record payload; the full-record join
  happens once at the end (``attach_ultimate_parent``) and broadcasts when
  the mapping is small.
- ``localCheckpoint`` after each checked iteration truncates lineage
  (otherwise the plan doubles per round and Catalyst analysis blows up)
  and materializes the ~2-column frame in executor storage. It is always
  local: the loop runs at most ⌈log2 max_depth⌉ rounds over two narrow
  columns, so an executor lost mid-rollup fails one short job that is
  rerun whole, which costs less than writing every round to a reliable
  checkpoint directory the job would also have to configure.
- convergence is measured inside the same pass that computes the new
  mapping (count of rows whose ancestor changed), so each iteration is
  one shuffle join + one cheap aggregate over the checkpointed result.
- cycles can never converge under doubling (ancestors rotate) — the
  bounded iteration count is the termination guarantee, and in-cycle rows
  end at an arbitrary in-cycle node, exactly the reference's alert-and-
  continue behavior. ``RollupResult.n_in_cycle`` is the alert signal.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


@dataclass
class RollupResult:
    mapping: DataFrame  # columns: id, ultimate_parent
    iterations: int
    strategy: str = "doubling"  # "doubling" | "single-task" (adaptive routing)
    _m0: DataFrame | None = None  # checkpointed input edges, for cycle analysis
    _n_in_cycle: int | None = None
    _flags: DataFrame | None = None  # single-task checkpoint with in_cycle

    @property
    def n_in_cycle(self) -> int:
        """Rows whose resolved ancestor is not a true root (any cycle).
        This is the non-convergence alert: testing the final state is
        more accurate than the loop's last ``n_changed`` scalar, which
        needs an extra no-op round to read 0.

        Computed lazily on first access: alert consumers (the pipeline)
        pay for it; mapping-only consumers don't run the extra jobs. The
        single-task strategy flags each id inside its kernel, so this is
        one sum over that checkpoint; the doubling strategy runs two
        semi/anti joins and a count.

        Cycle detection beyond non-convergence: even-length cycles collapse
        to stable self-maps under doubling (X→Y,Y→X resolves to X→X,Y→Y in
        one round), so "converged" alone doesn't mean "reached a real
        root". A resolved ancestor is a true root iff its own parent edge
        is a self-loop (or it has no edge — terminal). Everything else is
        in/under a cycle → the reference's alert case
        (get_ultimate_parent.py:25-39)."""
        if self._n_in_cycle is None:
            self._n_in_cycle = self._count_in_cycle()
        return self._n_in_cycle

    def _count_in_cycle(self) -> int:
        if self._flags is not None:
            total = self._flags.agg(F.sum(F.col("in_cycle").cast("long"))).collect()[0][0]
            return int(total or 0)
        m0 = self._m0
        assert m0 is not None
        roots = m0.filter(F.col("anc") == F.col("id")).select(F.col("id").alias("r_id"))
        all_ids = m0.select(F.col("id").alias("e_id"))
        non_terminal = self.mapping.join(
            all_ids, self.mapping["ultimate_parent"] == all_ids["e_id"], "left_semi"
        )
        return non_terminal.join(
            roots, non_terminal["ultimate_parent"] == roots["r_id"], "left_anti"
        ).count()


class DuplicateIdError(ValueError):
    """Raised when the input has duplicate ids (get_ultimate_parent.py:80-81)."""


def assert_unique_ids(df: DataFrame) -> None:
    """Hard-fail on duplicate ids, mirroring the reference's assert.

    Distributed check: groupBy + having instead of a driver-side dict probe.
    """
    dup = (
        df.groupBy("id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .select("id")
        .limit(5)
        .collect()
    )
    if dup:
        raise DuplicateIdError(f"Duplicate ID(s): {[r[0] for r in dup]}")


def extract_parent_edges(ror: DataFrame) -> DataFrame:
    """(id, parent) edges from nested ROR records — P1/P2/P3 of SURVEY §2.

    Preserves the reference's exact semantics (get_ultimate_parent.py:74-79):
    case-insensitive ``type == 'parent'`` match, LAST matching array element
    wins, parentless ids map to themselves. Runs entirely JVM-side
    (higher-order array functions; no Python UDF).
    """
    return ror.select(F.col("id"), _parent_col().alias("parent"))


def _parent_col():
    """The ``parent`` expression of :func:`extract_parent_edges`, for
    callers that project it next to other columns in one scan."""
    parents = F.filter(
        F.col("relationships"),
        lambda r: F.lower(F.coalesce(r["type"], F.lit(""))) == "parent",
    )
    # try_element_at: null (→ coalesce to self) when no parent relationship
    # exists — plain element_at(-1) throws on empty arrays under ANSI mode
    last_parent = F.try_element_at(parents, F.lit(-1))["id"]
    return F.coalesce(last_parent, F.col("id"))


LOCAL_THRESHOLD_CONF = "spark.ror.rollup.localThreshold"
DEFAULT_LOCAL_THRESHOLD = 2_000_000


def ultimate_parent(
    edges: DataFrame,
    max_depth: int = 200,
    check_every: int = 1,
    local_threshold: int | None = None,
) -> RollupResult:
    """Resolve every id to its forest root by pointer doubling.

    ``edges`` is one row per id: (id, parent); roots are self-loops.
    A parent id absent from the id column is treated as a terminal
    (chain ends there) rather than an error, which is strictly more
    permissive than the reference's KeyError on dirty data.

    Depth covered after k iterations is 2^k, so ``ceil(log2(max_depth))``
    iterations dominate the reference's depth-200 recursion cap; the loop
    also exits early as soon as no ancestor changes. ``n_changed`` is used
    only for that early exit (and the duplicate guard) — non-convergence
    alerting is ``RollupResult.n_in_cycle``, which tests the final state
    directly instead of burning a confirmation round.

    ``check_every``: run the convergence/duplicate-guard aggregate only on
    every k-th iteration (always on the last). Each check is a Spark job
    whose fixed scheduling cost rivals the join itself on small inputs, so
    checking every other round nearly halves job count when the depth
    bound is tight; doubling past the fixpoint is idempotent, so the only
    cost is up to ``check_every - 1`` no-op joins after convergence. The
    duplicate-explosion guard then fires up to that many rounds later —
    still bounded. Keep 1 when the depth is unknown and max_depth is a
    loose cap (early exit saves more than the checks cost).

    ``local_threshold``: adaptive small-input strategy. When the edge set
    has at most this many rows (counted once, off the checkpoint that the
    first iteration would materialize anyway), the SAME ``n_iters``
    doubling rounds run vectorized in numpy inside one executor task
    (``coalesce(1).mapInPandas``) instead of as shuffle joins — row-for-row
    identical output on every input, cycles and duplicates included (see
    ``_ultimate_parent_single_task``), but without the ~⌈log2 depth⌉ fixed
    shuffle-round costs that dominate wall time at registry scale (the
    reference's real weekly workload is ~110k orgs). ``None`` reads
    ``spark.ror.rollup.localThreshold`` (default 2M rows — ≲200 MB of id
    strings in the one task); ``0`` pins the distributed fixpoint, which
    the registered bench queries do so the scale path keeps hard evidence.
    This is the engine's AQE philosophy applied to an iterative operator:
    pick the physical strategy from the observed input size, never from
    hope.
    """
    m = _materialize(edges.select(F.col("id"), F.col("parent").alias("anc")))
    if local_threshold is None:
        local_threshold = _conf_local_threshold(m)
    counts = None
    if local_threshold > 0:
        # one routing job: materializes the lazy checkpoint (work the
        # first iteration's aggregate would have done anyway) and computes
        # the same count/count_distinct pair the distributed path's first
        # convergence check uses — so the duplicate-id hard-fail stays an
        # authoritative DRIVER-side DuplicateIdError on both strategies.
        # Accepted routing cost: vs the pinned path (local_threshold=0,
        # which folds this into the first convergence check) an
        # above-threshold input pays one extra map-side-combined scan of
        # the checkpointed 2-column frame before the loop. Deployments
        # that KNOW the input is huge pin local_threshold=0 — exactly
        # what the registered bench/graph queries do — and skip it; the
        # adaptive default trades that one pass for picking the right
        # physical strategy from the observed size instead of from hope.
        stats = m.agg(
            F.count(F.lit(1)).alias("n"), F.count_distinct("id").alias("n_ids")
        ).collect()[0]
        counts = (stats["n"], stats["n_ids"])
    return _rollup_edges(
        m,
        counts,
        max_depth=max_depth,
        check_every=check_every,
        local_threshold=local_threshold,
    )


def _conf_local_threshold(df: DataFrame) -> int:
    return int(
        df.sparkSession.conf.get(LOCAL_THRESHOLD_CONF, str(DEFAULT_LOCAL_THRESHOLD))
    )


def _raise_if_duplicate_ids(m: DataFrame, n: int, n_ids: int) -> None:
    """``n`` rows over ``n_ids`` distinct ids: raise the driver-side
    ``DuplicateIdError`` (with a sample of the repeated ids) when they
    differ."""
    if n > n_ids:
        sample = [
            r["id"]
            for r in m.groupBy("id")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") > 1)
            .limit(5)
            .collect()
        ]
        raise DuplicateIdError(f"Duplicate ID(s): {sample}")


def _rollup_edges(
    m: DataFrame,
    counts: tuple[int, int] | None,
    max_depth: int = 200,
    check_every: int = 1,
    local_threshold: int | None = None,
) -> RollupResult:
    """Route and run the rollup over ``m``: (id, anc) edges, already
    (lazily) checkpointed. ``counts`` is (rows, distinct ids) when the
    caller has them — :func:`ultimate_parent`'s routing job, or a scan the
    caller ran anyway, such as the pipeline's input gate — so routing
    costs no job here. ``None`` pins the distributed loop, whose first
    convergence check then counts the ids."""
    n_iters = max(1, math.ceil(math.log2(max(2, max_depth))))
    check_every = max(1, check_every)
    if local_threshold is None:
        local_threshold = _conf_local_threshold(m)
    m0 = m  # checkpointed input copy — reused for root/cycle analysis
    # so the (possibly expensive) upstream edge lineage never re-executes
    if counts is not None:
        n, n_ids = counts
        _raise_if_duplicate_ids(m, n, n_ids)
        if local_threshold > 0 and n <= local_threshold:
            return _ultimate_parent_single_task(m, n_iters)
        n_rows = int(n_ids)  # already counted — reuse
    else:
        # No dedicated input-count job when the distributed path is pinned:
        # the first convergence check also computes count_distinct(id),
        # which both seeds the duplicate-explosion baseline and catches
        # duplicate ids authoritatively in the same pass. On small inputs
        # every job carries ~0.1-0.4 s of fixed local scheduling cost, so
        # each job folded away is measurable at sf0.1 (and free at 100 TB).
        n_rows = None

    iterations = 0
    n_changed = -1
    for it in range(n_iters):
        iterations += 1
        hop = m.select(F.col("id").alias("h_id"), F.col("anc").alias("h_anc"))
        stepped = (
            m.join(hop, m["anc"] == hop["h_id"], "left")
            .select(
                m["id"],
                m["anc"].alias("prev_anc"),
                F.coalesce(hop["h_anc"], m["anc"]).alias("anc"),
            )
        )
        if (it + 1) % check_every != 0 and it + 1 < n_iters:
            # no checkpoint between checks: the chained self-join plan
            # deduplicates at runtime (ReusedExchange computes each round's
            # shuffle once), and skipping the per-round block-store write
            # cuts ~40% off the loop. Lineage depth between checkpoints is
            # bounded by check_every, so analysis cost stays flat.
            m = stepped.select("id", "anc")
            continue
        stepped = _materialize(stepped)
        m = stepped.select("id", "anc")
        aggs = [
            F.sum((F.col("prev_anc") != F.col("anc")).cast("long")).alias("changed"),
            F.count(F.lit(1)).alias("n"),
        ]
        if n_rows is None:
            aggs.append(F.count_distinct(F.col("id")).alias("n_ids"))
        stats = stepped.agg(*aggs).collect()[0]
        n_changed = stats["changed"] or 0
        if n_rows is None:
            n_rows = stats["n_ids"]
        # duplicate ids make the self-join a multiplier: row count grows
        # geometrically per round. Fail fast with the reference's
        # duplicate-id error instead of running out the iteration budget.
        if stats["n"] > n_rows:
            raise DuplicateIdError(
                f"edge set grew beyond {n_rows} distinct id(s) (now "
                f"{stats['n']} rows) during fixpoint — duplicate ids in "
                f"input (reference hard-fails these too)"
            )
        if n_changed == 0:
            break

    mapping = m.select(F.col("id"), F.col("anc").alias("ultimate_parent"))
    return RollupResult(
        mapping=mapping,
        iterations=iterations,
        _m0=m0,
    )


def _ultimate_parent_single_task(m: DataFrame, n_iters: int) -> RollupResult:
    """Small-input strategy: the identical pointer-doubling recurrence,
    vectorized in numpy inside ONE executor task.

    Equivalence to the distributed loop is by construction, not analogy:
    the node space is ids ∪ parents with parent-only nodes as self-loops
    (exactly the left-join's "absent parent is terminal" coalesce), and
    the ancestor array steps ``anc = anc[anc]`` for the same
    ``n_iters = ⌈log2 max_depth⌉`` rounds the distributed loop is
    budgeted for. Doubling past a fixpoint is idempotent, so skipping the
    early-exit changes nothing; cycle nodes rotate to the same
    (2^n_iters mod cycle_len)-th successor either way. Null parents get
    the distributed left-join's exact semantics: the node itself resolves
    to null (a null anc joins nothing, so it can never change), while
    chains running THROUGH the node stop at it (its children coalesce
    back to their own anc). Duplicate ids raise the same
    ``DuplicateIdError`` the distributed growth guard raises — as a
    BACKSTOP only: the driver-side routing gate always runs first on
    this path and raises a catchable DuplicateIdError; if the in-executor
    check ever fired directly it would surface as a Spark task failure
    wrapping the error, not as a driver-catchable exception. The data
    never touches the driver — ``mapInPandas`` runs the
    resolve on an executor, Arrow-batched, and the result is lazily
    checkpointed for its two consumers (attach join, cycle analysis).

    The kernel also flags each id ``in_cycle`` exactly as the doubling
    strategy's :attr:`RollupResult.n_in_cycle` joins count it: the resolved
    ancestor has an edge of its own that is not a self-loop (a null parent
    is not one). An id that itself resolves to null is never flagged —
    the joins cannot match a null ancestor — so ``n_in_cycle`` is one sum
    over the checkpoint.
    """
    import numpy as np
    import pandas as pd

    k = n_iters
    out_schema = T.StructType(
        [*m.schema.fields, T.StructField("in_cycle", T.BooleanType(), False)]
    )

    def resolve(batches):
        pdfs = list(batches)
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        ids = pdf["id"]
        dup_mask = ids.duplicated()
        if dup_mask.any():
            sample = ids[dup_mask].head(5).tolist()
            raise DuplicateIdError(f"Duplicate ID(s): {sample}")
        both = pd.concat([ids, pdf["anc"]], ignore_index=True)
        codes, uniques = pd.factorize(both)
        n = len(pdf)
        id_codes = codes[:n]
        parent_codes = codes[n:].copy()
        # factorize codes null parents as -1, which numpy indexing would
        # read as "last element" — an arbitrary unrelated node. Match the
        # distributed left-join instead: a null-parent node acts as a
        # terminal for chains passing through it (self-loop in the array)
        # and resolves to null itself (restored after the doubling).
        null_parent = parent_codes < 0
        parent_codes[null_parent] = id_codes[null_parent]
        anc = np.arange(len(uniques), dtype=np.int64)  # terminals: self
        anc[id_codes] = parent_codes
        for _ in range(k):
            anc = anc[anc]
        resolved = anc[id_codes]
        has_edge = np.zeros(len(uniques), dtype=bool)
        has_edge[id_codes] = True
        rooted = np.zeros(len(uniques), dtype=bool)
        rooted[id_codes] = (parent_codes == id_codes) & ~null_parent
        in_cycle = has_edge[resolved] & ~rooted[resolved] & ~null_parent
        roots = np.asarray(uniques)[resolved].astype(object)
        roots[null_parent] = None
        yield pd.DataFrame({"id": ids, "anc": roots, "in_cycle": in_cycle})

    out = m.coalesce(1).mapInPandas(resolve, schema=out_schema)
    out = out.localCheckpoint(eager=False)
    mapping = out.select(F.col("id"), F.col("anc").alias("ultimate_parent"))
    return RollupResult(
        mapping=mapping, iterations=k, strategy="single-task", _flags=out
    )


def attach_ultimate_parent(ror: DataFrame, mapping: DataFrame) -> DataFrame:
    """Append the derived ``ultimate_parent`` column to full records (T1).

    The mapping is two narrow columns — broadcast it so the full-payload
    side never shuffles (the reference does the same thing as a driver-side
    dict lookup, get_ultimate_parent.py:84-88).
    """
    joined = ror.join(
        F.broadcast(mapping), ror["id"] == mapping["id"], "left"
    ).drop(mapping["id"])
    # REQUIRED semantics (schemas/ror.json:215-220): never null — ids missing
    # from the mapping (shouldn't happen; every input id is mapped) fall back
    # to self.
    return joined.withColumn(
        "ultimate_parent", F.coalesce(F.col("ultimate_parent"), F.col("id"))
    )


def _materialize(df: DataFrame) -> DataFrame:
    # lazy: the convergence aggregate that follows each checkpoint is the
    # materializing action, so every iteration runs ONE job instead of an
    # eager-checkpoint job plus an aggregate job (~20% faster fixpoint)
    return df.localCheckpoint(eager=False)
