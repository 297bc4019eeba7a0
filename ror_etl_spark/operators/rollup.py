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
implementation is **pointer doubling**: each round substitutes every
node's current ancestor with that ancestor's ancestor, so reachable depth
doubles per round — ⌈log2(depth)⌉ rounds instead of depth, memoization
implicit. Only rows that fit ``local_threshold`` ever pass through the
driver: the one task's output, which a broadcast join carries on (Spark
builds a broadcast on the driver), and the single-task route run on
edges the driver already holds (``rollup_on_driver``, which hands its
mapping to Spark as a Parquet file).

Scale notes (100 TB design):
- one route: distributed doubling rounds while the moving set is larger
  than ``local_threshold``, then one task. A row whose ancestor did not
  change in a round has reached a fixed point and never changes again,
  so the rows still moving shrink fast (deep chains and cycles are the
  long tail). Each convergence check already counts them; once the moving
  rows plus the settled rows they point at (at most as many again) fit
  ``local_threshold``, the remaining rounds run for just those rows in
  ONE executor task (``_finish_in_one_task``) and its output is broadcast
  back onto the checkpointed state. Every round after the switch costs
  one task instead of a full two-column shuffle of every row — at 100 TB,
  the billions of rows that settled in the first rounds are not
  re-shuffled for the sake of a few long chains. An input that fits the
  threshold outright runs every round in that task (``"single-task"``).
- the iterated frame is two id columns (id, anc) and a static boolean
  (the row's own edge is a non-null self-loop) — each shuffle moves keys only,
  never record payload; the full-record join happens once at the end
  (``attach_ultimate_parent``), which broadcasts only a single-task
  mapping (at most ``local_threshold`` rows) and otherwise leaves the
  join to the planner and AQE.
- ``localCheckpoint`` after each checked iteration truncates lineage
  (otherwise the plan doubles per round and Catalyst analysis blows up)
  and materializes the narrow frame in executor storage. It is always
  local: the loop runs at most ⌈log2 max_depth⌉ rounds over narrow
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
import sys
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark import cloudpickle
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Spark pickles the one-task kernel into a Python worker, which may not
# find this package on its path (nothing ships it there). By value, the
# function travels with its code and needs only numpy and pyarrow.
cloudpickle.register_pickle_by_value(sys.modules[__name__])


@dataclass
class RollupResult:
    mapping: DataFrame  # columns: id, ultimate_parent
    iterations: int
    strategy: str = "doubling"  # "doubling" | "single-task" (adaptive routing)
    _m0: DataFrame | None = None  # checkpointed input edges, for cycle analysis
    _n_in_cycle: int | None = None
    _flags: DataFrame | None = None  # final checkpoint with in_cycle

    @property
    def n_in_cycle(self) -> int:
        """Rows whose resolved ancestor is not a true root (any cycle).
        This is the non-convergence alert: testing the final state is
        more accurate than the loop's last ``n_changed`` scalar, which
        needs an extra no-op round to read 0.

        Computed lazily on first access: alert consumers (the pipeline)
        pay for it; mapping-only consumers don't run the extra jobs. Each
        doubling round's join also reads the static root flag of the
        ancestor it looks up, so a row that has settled carries its own
        in-cycle flag, and the one-task finish flags the rows still
        moving. So this is one sum over the final checkpoint on the
        single-task route, after the one-task finish and at the
        ``changed == 0`` early exit. Only a loop that runs out of rounds with
        more than ``local_threshold`` rows still moving falls back to two
        semi/anti joins over the input edges and a count.

        Cycle detection beyond non-convergence: even-length cycles collapse
        to stable self-maps under doubling (X→Y,Y→X resolves to X→X,Y→Y in
        one round), so "converged" alone doesn't mean "reached a real
        root" — and such rows stop moving, so the rows still moving at the
        end are not the in-cycle set. A resolved ancestor is a true root
        iff its own parent edge is a non-null self-loop (or it has no
        edge — terminal). Everything else is in/under a cycle → the
        reference's alert case (get_ultimate_parent.py:25-39). An id that
        resolves to null (its own parent is null) is never counted."""
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
    callers that project it next to other columns in one scan. The fetch
    reads the same rule off each decoded record
    (``sources.ror_schema.gate_record``); change both together."""
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
    only for that early exit, the switch to one task and the duplicate
    guard — non-convergence alerting is ``RollupResult.n_in_cycle``,
    which tests the final state directly instead of burning a
    confirmation round.

    ``check_every``: run the convergence/duplicate-guard aggregate only on
    every k-th iteration (always on the last). Each check is a Spark job
    whose fixed scheduling cost rivals the join itself on small inputs, so
    checking every other round nearly halves job count when the depth
    bound is tight; doubling past the fixpoint is idempotent, so the only
    cost is up to ``check_every - 1`` no-op joins after convergence. The
    duplicate-explosion guard then fires up to that many rounds later —
    still bounded. Keep 1 when the depth is unknown and max_depth is a
    loose cap (early exit saves more than the checks cost).

    ``local_threshold``: how many rows one executor task may hold. The
    rounds run as distributed shuffle joins only while more rows than
    that are in play; the rest run vectorized in numpy inside one task
    (``_finish_in_one_task``), row-for-row identical output on every
    input, cycles and null parents included. An input of at most this
    many rows (counted once, off the checkpoint that the first iteration
    would materialize anyway) runs every round in that task (strategy
    ``"single-task"``) — no ~⌈log2 depth⌉ fixed shuffle-round costs at
    registry scale (the reference's real weekly workload is ~110k orgs).
    A larger input runs doubling rounds until a convergence check finds
    that twice the rows still moving fit, then finishes the remaining
    rounds for just those rows in the one task (strategy ``"doubling"``).
    Either way ``iterations`` is then the full round budget: the task
    does not stop at an earlier fixpoint. ``None`` reads
    ``spark.ror.rollup.localThreshold`` (default 2M rows — ≲200 MB of id
    strings in the one task); ``0`` pins the pure distributed loop, which
    the registered graph queries do so the scale path keeps hard evidence.
    This is the engine's AQE philosophy applied to an iterative operator:
    pick the physical strategy from the observed sizes, never from hope.
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
    costs no job here. ``None`` starts the distributed loop, whose first
    convergence check then counts the ids."""
    n_iters = _rounds(max_depth)
    check_every = max(1, check_every)
    if local_threshold is None:
        local_threshold = _conf_local_threshold(m)
    m0 = m  # checkpointed input copy — reused for root/cycle analysis
    # so the (possibly expensive) upstream edge lineage never re-executes
    if counts is not None:
        n, n_ids = counts
        _raise_if_duplicate_ids(m, n, n_ids)
        if local_threshold > 0 and n <= local_threshold:
            # every row still to resolve at round 0, except the roots,
            # which are settled and not in a cycle
            rows = m.select(
                "id", "anc", F.when(F.col("anc") == F.col("id"), False).alias("in_cycle")
            )
            out = _finish_in_one_task(rows, n_iters).localCheckpoint(eager=False)
            return RollupResult(_mapping(out), n_iters, "single-task", _flags=out)
        n_rows = int(n_ids)  # already counted — reuse
    else:
        # No dedicated input-count job when the distributed path is pinned:
        # the first convergence check also computes count_distinct(id),
        # which both seeds the duplicate-explosion baseline and catches
        # duplicate ids authoritatively in the same pass. On small inputs
        # every job carries ~0.1-0.4 s of fixed local scheduling cost, so
        # each job folded away is measurable at sf0.1 (and free at 100 TB).
        n_rows = None

    # the row's own edge is a non-null self-loop: static, carried so each
    # round's join also reads the in-cycle flag of the ancestor it looks up
    m = m.select(
        "id", "anc", F.coalesce(F.col("anc") == F.col("id"), F.lit(False)).alias("root")
    )
    for it in range(n_iters):
        done = it + 1
        hop = m.select(
            F.col("id").alias("h_id"), F.col("anc").alias("h_anc"), F.col("root").alias("h_root")
        )
        stepped = (
            m.join(hop, m["anc"] == hop["h_id"], "left")
            .select(
                m["id"],
                m["anc"].alias("prev_anc"),
                F.coalesce(hop["h_anc"], m["anc"]).alias("anc"),
                m["root"],
                F.coalesce(~hop["h_root"], F.lit(False)).alias("in_cycle"),
            )
        )
        if done % check_every != 0 and done < n_iters:
            # no checkpoint between checks: the chained self-join plan
            # deduplicates at runtime (ReusedExchange computes each round's
            # shuffle once), and skipping the per-round block-store write
            # cuts ~40% off the loop. Lineage depth between checkpoints is
            # bounded by check_every, so analysis cost stays flat.
            m = stepped.select("id", "anc", "root")
            continue
        stepped = _materialize(stepped)
        m = stepped.select("id", "anc", "root")
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
            # every row has settled, so every in_cycle flag is final
            return RollupResult(_mapping(stepped), done, _flags=stepped)
        if 2 * n_changed <= local_threshold:
            final = _finish_moving_rows(stepped, n_iters - done)
            return RollupResult(_mapping(final), n_iters, _flags=final)

    return RollupResult(_mapping(m), n_iters, _m0=m0)


def _rounds(max_depth: int) -> int:
    """Doubling rounds that cover chains ``max_depth`` deep."""
    return max(1, math.ceil(math.log2(max(2, max_depth))))


def _mapping(state: DataFrame) -> DataFrame:
    return state.select(F.col("id"), F.col("anc").alias("ultimate_parent"))


def _finish_moving_rows(state: DataFrame, k: int) -> DataFrame:
    """The last ``k`` rounds for the rows of ``state`` (a checked round)
    whose ancestor changed in that round, in one task: those rows plus
    the settled rows they point at go to :func:`_finish_in_one_task`, and
    its output replaces their state through a broadcast join — at most
    ``local_threshold`` rows, by the caller's switch. The result is
    checkpointed with ``in_cycle`` final on every row."""
    moving = F.coalesce(F.col("prev_anc") != F.col("anc"), F.lit(False))
    targets = state.filter(moving).select(F.col("anc").alias("t_id"))
    rows = state.filter(moving).select(
        "id", "anc", F.lit(None).cast("boolean").alias("in_cycle")
    ).unionByName(
        state.filter(~moving)
        .join(F.broadcast(targets), F.col("id") == F.col("t_id"), "left_semi")
        .select("id", "anc", "in_cycle")
    )
    finished = _finish_in_one_task(rows, k).select(
        F.col("id").alias("t_id"), F.col("anc").alias("t_anc"), F.col("in_cycle").alias("t_cyc")
    )
    final = state.join(F.broadcast(finished), state["id"] == finished["t_id"], "left").select(
        "id",
        F.coalesce("t_anc", "anc").alias("anc"),
        F.coalesce("t_cyc", "in_cycle").alias("in_cycle"),
    )
    return _materialize(final)


def _finish_in_one_task(rows: DataFrame, k: int) -> DataFrame:
    """Run ``k`` more pointer-doubling rounds for ``rows`` inside ONE
    executor task (:func:`_double_pointers`), and flag each row
    ``in_cycle``.

    ``rows`` is (id, anc, in_cycle): every row still to resolve, with
    ``in_cycle`` null, plus every row one of them points at. Those are
    settled — their ancestor is a fixed point — and their ``in_cycle`` is
    already the flag of that ancestor; they come back unchanged. The
    single-task route passes every row at round 0, with only the roots
    settled; the doubling route passes the rows still moving at a check.
    ``mapInArrow`` hands the task Arrow batches, so long ids stay exact
    (a pandas batch would carry a nullable long column as float64); the
    output schema follows the input's id type.
    """
    out_schema = T.StructType(
        [rows.schema["id"], rows.schema["anc"],
         T.StructField("in_cycle", T.BooleanType(), False)]
    )
    return rows.coalesce(1).mapInArrow(_one_task_fn(k), schema=out_schema)


def _one_task_fn(k: int):
    """The function ``mapInArrow`` ships to the one task: every batch of
    (id, anc, in_cycle) in, one batch of the resolved rows out. This
    module is pickled by value (see the top of the file), so the Python
    worker needs numpy and pyarrow but never imports this package."""

    def resolve(batches):
        batches = list(batches)
        if not batches:
            return
        table = pa.Table.from_batches(batches)
        ids = table["id"].combine_chunks()
        roots, in_cycle = _double_pointers(
            ids, table["anc"].combine_chunks(), table["in_cycle"].combine_chunks(), k
        )
        yield pa.RecordBatch.from_arrays([ids, roots, in_cycle], ["id", "anc", "in_cycle"])

    return resolve


def _double_pointers(
    ids: pa.Array, ancs: pa.Array, in_cycle: pa.Array, k: int
) -> tuple[pa.Array, pa.Array]:
    """``k`` pointer-doubling rounds over the edges ``ids`` → ``ancs``,
    vectorized in numpy: the ancestor each id resolves to, and whether
    that ancestor is in a cycle. The one kernel of both single-task
    routes: an executor task runs it for ``_finish_in_one_task``, the
    driver for ``rollup_on_driver``.

    ``in_cycle`` is null for a row still to resolve and, for a settled
    row (its ancestor is a fixed point), the flag of that ancestor.

    Equivalence to the distributed loop is by construction, not analogy:
    the node space is ids ∪ ancestors with every node outside the ids a
    self-loop (exactly the left-join's "absent id is terminal" coalesce,
    and exact for the ids a caller leaves out, since only a settled row
    points at one, and settled rows point at fixed points), and the
    ancestor array steps ``anc = anc[anc]`` ``k`` times. Doubling past a
    fixpoint is idempotent, so skipping the early exit changes nothing;
    cycle nodes rotate to the same (2^rounds mod cycle_len)-th successor
    either way. Null ancestors get the distributed left-join's exact
    semantics: the row itself resolves to null (a null anc joins nothing,
    so it can never change), while chains running THROUGH the node stop at
    it (its children coalesce back to their own anc).

    The ``in_cycle`` result is :attr:`RollupResult.n_in_cycle`'s test:
    the resolved ancestor is an id whose own edge is not a non-null
    self-loop. Every id here is such a node (a root never moves), except a
    settled self-map, whose flag is given — as is the flag of each settled
    row's ancestor, among the ids or not. Any other node is not an id. A
    row that resolves to null is never flagged.

    Duplicate ids raise a plain ``ValueError`` — a BACKSTOP only: every
    caller's gate counts the ids first and raises the catchable
    ``DuplicateIdError``, and an error raised in an executor task reaches
    the driver wrapped in a Spark task failure anyway.
    """
    n = len(ids)
    encoded = pc.dictionary_encode(pa.concat_arrays([ids, ancs]))
    nodes = encoded.dictionary
    codes = pc.fill_null(encoded.indices, -1).to_numpy().astype(np.int64)
    id_codes = codes[:n]
    anc_codes = codes[n:].copy()
    repeated = np.bincount(id_codes, minlength=len(nodes)) > 1
    if repeated.any():
        sample = nodes.take(np.flatnonzero(repeated)[:5]).to_pylist()
        raise ValueError(f"Duplicate ID(s): {sample}")
    # a null code (-1) would index the last node — an arbitrary unrelated
    # one. Match the distributed left-join instead: a null-anc node acts
    # as a terminal for chains passing through it (self-loop in the
    # array) and resolves to null itself (restored after the doubling).
    null_anc = anc_codes < 0
    anc_codes[null_anc] = id_codes[null_anc]
    anc = np.arange(len(nodes), dtype=np.int64)  # not an id: self
    anc[id_codes] = anc_codes
    for _ in range(k):
        anc = anc[anc]
    resolved = anc[id_codes]
    flag = np.zeros(len(nodes), dtype=bool)
    flag[id_codes] = True
    given = in_cycle.is_valid().to_numpy(zero_copy_only=False) & ~null_anc
    flag[anc_codes[given]] = pc.fill_null(in_cycle, False).to_numpy(zero_copy_only=False)[given]
    roots = nodes.take(pa.array(resolved, mask=null_anc))
    return roots, pa.array(flag[resolved] & ~null_anc)


def rollup_on_driver(
    spark: SparkSession, edges: pa.Table, path: str, max_depth: int = 200
) -> RollupResult:
    """The single-task route for (id, anc) edges already on the driver,
    such as the gate ``sources.fetch`` computes while it writes the feed:
    :func:`_double_pointers` runs here, with no Spark job, and the mapping
    is written to ``path`` as one Parquet file that the returned mapping
    reads, so a broadcast of it reads that file in one task.

    ``createDataFrame`` would make the mapping a local relation instead:
    Spark turns it into rows on the driver, then ships those rows inside
    the tasks of the broadcast's job, only to collect them back (at 110k
    orgs, ~0.2 s in this function and ~0.3 s before that job starts).
    The caller has checked the ids are distinct and at most
    ``local_threshold``."""
    ids = edges["id"].combine_chunks()
    ancs = edges["anc"].combine_chunks()
    settled = pc.if_else(pc.equal(ids, ancs), False, pa.scalar(None, pa.bool_()))
    n_iters = _rounds(max_depth)
    roots, in_cycle = _double_pointers(ids, ancs, settled, n_iters)
    pq.write_table(pa.table({"id": ids, "ultimate_parent": roots}), path)
    mapping = spark.read.schema("id string, ultimate_parent string").parquet(path)
    return RollupResult(
        mapping, n_iters, "single-task", _n_in_cycle=int(pc.sum(in_cycle).as_py() or 0)
    )


def attach_ultimate_parent(ror: DataFrame, result: RollupResult) -> DataFrame:
    """Append the derived ``ultimate_parent`` column to full records (T1).

    A single-task mapping holds at most ``local_threshold`` rows, so it is
    broadcast and the full-payload side never shuffles (the reference does
    the same thing as a driver-side dict lookup, get_ultimate_parent.py:
    84-88). A doubling-route mapping has every id — past Spark's broadcast
    limit at 100 TB — so the planner and AQE choose that join.
    """
    mapping = result.mapping
    right = F.broadcast(mapping) if result.strategy == "single-task" else mapping
    joined = ror.join(right, ror["id"] == mapping["id"], "left").drop(mapping["id"])
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
