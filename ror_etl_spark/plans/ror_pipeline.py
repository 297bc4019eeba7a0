"""Reference-parity ROR pipeline: the weekly ETL re-expressed as gated
DataFrame stages (reference: ror_dag.py task chain :228-238).

Stage map (reference → here):
- clear_tmp_dir (ror_dag.py:53-55)            → ``clear_tmp``
- download (GKE pod running fetch.py)          → sources.fetch (driver-side;
                                                 also computes the gate)
- load (ror_dag.py:166-175)                    → ``load_input``: schema-FAILFAST
                                                 read + the gate (REQUIRED
                                                 nulls, duplicate ids, edges):
                                                 the fetch's, or one Spark scan
- add_ultimate_parent (get_ultimate_parent.py) → rollup operators (driver or
                                                 distributed, by size)
- load_staging (ror_dag.py:166-175)            → overwrite parquet with inline
                                                 row/null metrics
- checks (ror_dag.py:178-192)                  → ``check_unique_ids`` (the
                                                 staging write's row count
                                                 against the gate's) +
                                                 ``check_monotonic_count``
                                                 (against prod's Parquet
                                                 footers); no Spark job. Any
                                                 failure stops before promote,
                                                 staging keeps the bad data for
                                                 inspection (comment :51-52)
- load_production (ror_dag.py:194-200)         → staging → prod copy, swapped
                                                 in by rename (crash-safe)
- update descriptions (ror_dag.py:203-213)     → TBLPROPERTIES-style metadata
                                                 written alongside prod
- backup (ror_dag.py:216-223)                  → dated snapshot ``ror_YYYYMMDD``
- success alert (ror_dag.py:226)               → observer callback hook

Write semantics are the reference's: every table write is full replace
(WRITE_TRUNCATE ≙ mode="overwrite"), snapshots are name-versioned by run
date. Prod and backups are replaced by copying to a sibling directory and
renaming it into place, so a crash never leaves a half-copied or missing
prod for the next week's monotonic check to pass against. At 100 TB the
staging/prod/backup materializations stay Parquet directory writes
(partition by a stable key upstream if needed); the intermediate rollup
never materializes outside the fixpoint loop.
"""

from __future__ import annotations

import json
import os
import shutil
import stat
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Callable

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ror_etl_spark.operators.rollup import (
    DuplicateIdError,
    RollupResult,
    _conf_local_threshold,
    _parent_col,
    _raise_if_duplicate_ids,
    _rollup_edges,
    attach_ultimate_parent,
    rollup_on_driver,
)
from ror_etl_spark.sources.fetch import read_gate
from ror_etl_spark.sources.ror_schema import (
    ROR_INPUT_SCHEMA,
    TABLE_DESCRIPTION,
    raise_required_nulls,
    required_null_flags,
)


class CheckFailed(RuntimeError):
    """A data-quality check failed; promotion is blocked
    (BigQueryCheckOperator semantics, ror_dag.py:178-192)."""


@dataclass(frozen=True)
class _Gate:
    """What the input gate established about the feed."""

    # (id, anc) parent edges: lazily checkpointed by the Spark scan, or
    # on the driver from the fetch's sidecar
    edges: DataFrame | pa.Table
    n: int  # rows
    n_ids: int  # distinct ids


def _parquet_row_count(path: str) -> int:
    """Rows in the Parquet table at ``path``: the sum of ``num_rows`` in
    its files' footers, with no Spark job and no data page read. Files
    named with a leading ``_`` or ``.`` (``_SUCCESS``, ``.crc``) are
    skipped, as Spark's reader skips them. Exact for any Parquet table,
    however it was written. At 100 TB the same count is the table
    format's manifest row count (Delta's or Iceberg's ``numRecords``),
    also read without a scan."""
    return ds.dataset(path, format="parquet").count_rows()


def _file_identity(path: str) -> tuple[int, ...] | None:
    """What tells one version of the file at ``path`` from another
    without reading it: device, inode, size, mtime and ctime. A feed
    renamed into place (how ``sources.fetch`` replaces one) has a new
    inode, and a rewrite in place moves ctime, which no caller can set
    back. None for anything but a local regular file."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return (st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns)


def _swap_paths(dest: str) -> tuple[str, str]:
    """The sibling paths a swap of ``dest`` uses: the new copy, and the
    previous table while it is being replaced."""
    return dest + ".incoming", dest + ".previous"


def _recover_swap(dest: str) -> None:
    """Undo or finish a swap that a crash interrupted: a missing ``dest``
    gets its previous table back, and no sibling survives."""
    incoming, previous = _swap_paths(dest)
    if not os.path.exists(dest) and os.path.exists(previous):
        os.rename(previous, dest)
    shutil.rmtree(previous, ignore_errors=True)
    shutil.rmtree(incoming, ignore_errors=True)


def _copy_swap(src: str, dest: str) -> None:
    """Replace ``dest`` with a file copy of ``src``. The copy goes to a
    sibling first and is renamed into place, so at every instant ``dest``
    is either the old table or the whole new one, or (between the two
    renames) absent with the old table parked beside it, which
    ``_recover_swap`` puts back."""
    _recover_swap(dest)
    incoming, previous = _swap_paths(dest)
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    shutil.copytree(src, incoming)
    if os.path.exists(dest):
        os.rename(dest, previous)
    os.rename(incoming, dest)
    shutil.rmtree(previous, ignore_errors=True)


@dataclass
class RorPipeline:
    spark: SparkSession
    root: str  # warehouse root: {root}/tmp, /staging, /prod, /backups
    alert: Callable[[str], None] = field(default=lambda msg: None)
    run_date: datetime | None = None
    # per-run state handed from stage to stage
    _gate: tuple[DataFrame, _Gate] | None = field(default=None, init=False, repr=False)
    # the feed load_input read, and its _file_identity before the gate
    # read it (None: not a local file)
    _feed: tuple[str, tuple[int, ...]] | None = field(default=None, init=False, repr=False)
    _rollup: RollupResult | None = field(default=None, init=False, repr=False)
    # the frame add_ultimate_parent returned, the gate's row count for it,
    # and the feed that count was taken from (None: a frame it gated itself)
    _attached: tuple[DataFrame, int, tuple | None] | None = field(
        default=None, init=False, repr=False
    )
    _staging_metrics: dict | None = field(default=None, init=False, repr=False)
    # the gate's row count when load_staging wrote the _attached frame
    # from a feed that did not change while the week read it
    _staged_gate_n: int | None = field(default=None, init=False, repr=False)
    _staging_schema: T.StructType | None = field(default=None, init=False, repr=False)

    @property
    def tmp_dir(self) -> str:
        return os.path.join(self.root, "tmp")

    @property
    def staging_path(self) -> str:
        return os.path.join(self.root, "staging", "ror")

    @property
    def prod_path(self) -> str:
        return os.path.join(self.root, "prod", "ror")

    def backup_path(self) -> str:
        d = self.run_date or datetime.now(timezone.utc)
        return os.path.join(self.root, "backups", f"ror_{d:%Y%m%d}")

    # --- stages -----------------------------------------------------------

    def clear_tmp(self) -> None:
        """Clean tmp at run START — failed runs keep debris for debugging
        (ror_dag.py:51-55)."""
        shutil.rmtree(self.tmp_dir, ignore_errors=True)
        os.makedirs(self.tmp_dir, exist_ok=True)

    def load_input(self, jsonl_path: str) -> DataFrame:
        """Schema-enforced read: FAILFAST rejects shape/type mismatches the
        way the BigQuery load does. The gate then rejects REQUIRED nulls
        (Spark's reader can't — SURVEY §4.2) and duplicate ids, in that
        order; ``add_ultimate_parent`` reuses what it found when handed
        the frame returned here.

        The gate comes from the fetch when it can (``_fetched_gate``), at
        no Spark job: the feed is then parsed once, by the staging write.
        Any other feed, or one above the rollup's ``local_threshold``, is
        gated by one Spark scan (``_scan_gate``), the 100 TB route.

        The feed's file identity is taken before the gate reads it, so
        ``load_staging`` can tell whether the write parsed the same feed."""
        identity = _file_identity(jsonl_path)
        self._feed = (jsonl_path, identity) if identity is not None else None
        df = (
            self.spark.read.schema(ROR_INPUT_SCHEMA)
            .option("mode", "FAILFAST")
            .json(jsonl_path)
        )
        gate = self._fetched_gate(df, jsonl_path)
        self._gate = (df, gate if gate is not None else self._scan_gate(df))
        return df

    def _fetched_gate(self, ror: DataFrame, jsonl_path: str) -> _Gate | None:
        """The gate ``sources.fetch`` computed while it wrote this feed,
        when it did and the feed fits the single-task rollup: its null
        counts and edges raise what ``_scan_gate`` raises, with the same
        messages, in the same order. None sends the feed to the scan.

        The fetch vouches only for records whose gate columns have the
        JSON types the schema declares, so Spark's typed read of them
        cannot fail and reads the same ids, parents and nulls; a feed it
        did not vouch for has no sidecar."""
        fetched = read_gate(jsonl_path)
        threshold = _conf_local_threshold(ror)
        if fetched is None or threshold <= 0 or fetched.n > threshold:
            return None
        raise_required_nulls(fetched.null_counts)
        ids = fetched.edges["id"]
        n_ids = pc.count_distinct(ids).as_py()
        if fetched.n > n_ids:
            counts = pc.value_counts(ids)
            repeated = counts.field("values").filter(pc.greater(counts.field("counts"), 1))
            raise DuplicateIdError(f"Duplicate ID(s): {repeated[:5].to_pylist()}")
        return _Gate(fetched.edges, fetched.n, n_ids)

    def _scan_gate(self, ror: DataFrame) -> _Gate:
        """One narrow scan of ``ror``: (id, parent, one flag per REQUIRED
        path), lazily checkpointed, and one aggregate over that
        checkpoint for the null counts, the row count and the distinct-id
        count. The aggregate materializes the checkpoint, so the rollup
        reads its edges without parsing the feed again. Raises
        ``RequiredFieldViolation`` first, then ``DuplicateIdError`` (the
        reference's load-then-rollup order)."""
        flags = required_null_flags()
        cols = [f"null{i}" for i in range(len(flags))]
        narrow = ror.select(
            F.col("id"),
            _parent_col().alias("anc"),
            *[flag.alias(c) for flag, c in zip(flags.values(), cols)],
        ).localCheckpoint(eager=False)
        row = narrow.agg(
            *[F.sum(F.col(c).cast("long")).alias(c) for c in cols],
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("id").alias("n_ids"),
        ).collect()[0]
        raise_required_nulls({name: row[c] for name, c in zip(flags, cols)})
        _raise_if_duplicate_ids(narrow, row["n"], row["n_ids"])
        return _Gate(narrow.select("id", "anc"), row["n"], row["n_ids"])

    def add_ultimate_parent(self, ror: DataFrame) -> DataFrame:
        """The rollup kernel: duplicate-id hard gate → adaptive rollup
        (single-task doubling at registry scale, distributed pointer-
        doubling rounds above the size threshold until the moving rows
        fit one task) → join-back, broadcast for a single-task mapping;
        cycles alert but don't fail (get_ultimate_parent.py semantics,
        SURVEY §2.2). The gate's edges and counts feed the router, so
        routing runs no job of its own; a frame other than the one
        ``load_input`` returned is gated here first."""
        if self._gate is not None and self._gate[0] is ror:
            gate, feed = self._gate[1], self._feed
        else:
            gate, feed = self._scan_gate(ror), None
        if isinstance(gate.edges, pa.Table):
            # the fetch's gate: at most local_threshold rows, already on
            # the driver, so the single-task kernel runs right here; its
            # mapping lands in tmp, which the next run clears
            os.makedirs(self.tmp_dir, exist_ok=True)
            path = os.path.join(self.tmp_dir, "ultimate_parent.parquet")
            result = rollup_on_driver(self.spark, gate.edges, path)
        else:
            # check_every=2 halves the convergence-aggregate jobs (each is
            # a fixed ~0.3 s shuffle round locally); results are identical
            # and the duplicate-explosion guard still fires at the first
            # check. local_threshold stays on its adaptive default: the
            # real ROR registry is ~110k orgs, which routes to the
            # single-task strategy and beats the reference's in-memory
            # walk outright (r6 shootout: kernel 2.04 s vs 2.94 s = 0.69x;
            # the END-TO-END gated run is near-parity, 3.07-3.57 s vs
            # 2.91-3.13 s — see NOTES round 6); a 100 TB input routes to
            # the fixpoint.
            result = _rollup_edges(gate.edges, (gate.n, gate.n_ids), check_every=2)
        self._rollup = result
        if result.n_in_cycle:
            self.alert(
                f"rollup: {result.n_in_cycle} id(s) did not converge to a "
                f"root (cycle or depth cap) — kept an in-chain ancestor"
            )
        with_up = attach_ultimate_parent(ror, result)
        self._attached = (with_up, gate.n, feed)
        return with_up

    def load_staging(self, df: DataFrame) -> None:
        """Staging write with INLINE quality metrics: an Observation rides
        the write job, so row count and REQUIRED-null violations come out
        of the same pass that writes the parquet — at 100 TB this saves
        the full re-scan that a separate validation query (or the
        reference's post-load BigQueryCheckOperator) would cost. The
        observed count also feeds both checks, which then read nothing
        back: ``check_unique_ids`` compares it with the gate's row count
        when ``df`` is the frame ``add_ultimate_parent`` returned for
        the feed ``load_input`` read (the link is recorded here, not
        assumed), and ``check_monotonic_count`` compares it with prod's.

        ``df`` parses the feed lazily, so the write reads the file again.
        A fetch that renames a new feed into place between the gate and
        the write would leave the gate's count about other rows; the
        count is kept only when the feed's file identity after the write
        is the one ``load_input`` took before the gate read it."""
        from pyspark.sql import Observation

        attached = self._attached
        self._staged_gate_n = None
        self._staging_metrics = None
        obs = Observation("staging_load")
        observed = df.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("ultimate_parent").isNull().cast("long")).alias("null_up"),
        )
        observed.write.mode("overwrite").parquet(self.staging_path)
        metrics = obs.get
        self._staging_metrics = metrics
        self._staging_schema = df.schema
        if attached is not None and attached[0] is df and attached[2] is not None:
            path, identity = attached[2]
            if _file_identity(path) == identity:
                self._staged_gate_n = attached[1]
        if metrics["null_up"]:
            raise CheckFailed(
                f"staging ror: {metrics['null_up']} row(s) with NULL "
                f"ultimate_parent (REQUIRED field, schemas/ror.json:215-220)"
            )

    def check_unique_ids(self) -> None:
        """Q1: select count(distinct id) = count(id) (ror_dag.py:179-183).

        Proven from two counts the run already holds, with no Spark job,
        when staging was written from the frame ``add_ultimate_parent``
        returned for an unchanged feed (``load_staging``). The gate
        raised unless the feed's ``n`` ids were distinct and non-null,
        and that frame is a left join of exactly those rows with the
        mapping. A left join keeps every left row at least once and
        repeats one only when a mapping id repeats, so staging's ids are
        distinct exactly when the staging write's observed row count
        equals the gate's ``n``; fewer rows mean a row was lost. This is
        Deequ's rule of verifying from metrics already computed instead
        of rescanning (Schelter et al., VLDB 2018). A standalone call, with no gate in
        hand, or a feed that changed while the week read it, runs the
        Spark query over staging."""
        gate_n, metrics = self._staged_gate_n, self._staging_metrics
        if gate_n is not None and metrics is not None:
            if metrics["n"] > gate_n:
                raise CheckFailed("staging ror: duplicate ids")
            if metrics["n"] < gate_n:
                raise CheckFailed(
                    f"staging ror: {metrics['n']} row(s) written, the gate "
                    f"counted {gate_n} (lost rows)"
                )
            return
        row = (
            self.spark.read.schema("id string")
            .parquet(self.staging_path)
            .agg(
                (F.count_distinct(F.col("id")) == F.count("id")).alias("ok"),
            )
            .collect()[0]
        )
        if not row["ok"]:
            raise CheckFailed("staging ror: duplicate ids")

    def check_monotonic_count(self) -> None:
        """Q2: staging rowcount must be >= current prod rowcount
        (ror_dag.py:184-191); trivially passes when prod doesn't exist.
        A prod left mid-swap by a crashed promote is restored first, so a
        crash can never make this pass trivially.
        Runs no Spark job: staging's count is the one observed during the
        staging write (for a standalone call, its Parquet footers), and
        prod's is the sum of its Parquet footers' row counts
        (``_parquet_row_count``)."""
        _recover_swap(self.prod_path)
        metrics = self._staging_metrics
        if metrics is not None:
            staging_n = metrics["n"]
        else:
            staging_n = _parquet_row_count(self.staging_path)
        if not os.path.exists(self.prod_path):
            return
        prod_n = _parquet_row_count(self.prod_path)
        if staging_n < prod_n:
            raise CheckFailed(
                f"staging count {staging_n} < prod count {prod_n} (shrinking table)"
            )

    def promote(self) -> None:
        """staging → prod full-replace copy (ror_dag.py:194-200).

        A FILE-level directory copy — the faithful analogue of the
        reference's BigQuery copy job (server-side, no decode/re-encode).
        A Spark read+rewrite would pay a full parquet codec round-trip to
        produce identical content; at 100 TB this operation is a distcp
        /object-store server-side copy, not a compute job. The copy is
        swapped in by rename (``_copy_swap``), never over a deleted prod."""
        _copy_swap(self.staging_path, self.prod_path)
        self._write_descriptions()

    def _write_descriptions(self) -> None:
        """Metadata propagation (ror_dag.py:203-213): without a metastore,
        descriptions land next to the table as JSON (with one, this becomes
        ALTER TABLE ... SET TBLPROPERTIES). Prod is a file copy of what
        ``load_staging`` wrote, so that frame's schema carries prod's
        column comments; only a standalone ``promote()`` reads prod's."""
        schema = self._staging_schema
        if schema is None:
            schema = self.spark.read.parquet(self.prod_path).schema
        meta = {
            "table_description": TABLE_DESCRIPTION["ror"],
            "columns": {f.name: f.metadata.get("comment", "") for f in schema.fields},
        }
        with open(os.path.join(self.root, "prod", "ror_descriptions.json"), "w") as f:
            json.dump(meta, f, indent=2)

    def backup(self) -> str:
        """Dated snapshot prod → backups/ror_YYYYMMDD (ror_dag.py:216-223),
        as a file-level copy swapped in like ``promote``'s."""
        path = self.backup_path()
        _copy_swap(self.prod_path, path)
        return path

    # --- orchestration ----------------------------------------------------

    def run(self, jsonl_path: str) -> dict:
        """Full gated chain. Check failures raise BEFORE promotion; staging
        keeps the failed data (reference comment ror_dag.py:51-52).

        A feed that ``sources.fetch`` wrote and vouched for is parsed
        once per run, by the staging write: the fetch computed the gate
        (ids, parent edges, REQUIRED-null counts) from the records it
        decodes anyway, so ``load_input`` and the driver-side single-task
        rollup run no Spark job, and the staging write joins the full
        records with the broadcast mapping. Any other feed, or one above
        the rollup's ``local_threshold``, is parsed twice: first by the
        gate's narrow scan (id, parent and the REQUIRED-null flags,
        lazily checkpointed and materialized by the one aggregate that
        runs the null, row and distinct-id checks; the rollup reads its
        edges and routing counts from that checkpoint), then by the
        staging write. The full records are deliberately not cached: an
        end-to-end A/B at the shootout's 110k-org tier measured persist()
        slower (3.59 vs 3.16 s warm best-of-3), since materializing the
        nested record cache costs more than the re-parse it saves. At
        100 TB the answer changes shape, not flags: land the raw feed as
        parquet once and run the chain off that (the staging write IS
        that materialization here).

        The two checks then read nothing back: unique ids compare the
        staging write's observed row count with the gate's, and the
        monotonic count compares it with prod's Parquet footers. So after
        the fetch, a fetched week runs two Spark jobs, the staging
        write's broadcast of the mapping and the write itself.

        Returns a report built from values the stages already computed
        (no extra Spark job) and passes it to ``alert`` as JSON: rows
        promoted, the backup path, the gate's row and distinct-id counts,
        and the rollup's strategy, iterations and ``n_in_cycle``."""
        self.clear_tmp()
        ror = self.load_input(jsonl_path)
        with_up = self.add_ultimate_parent(ror)
        self.load_staging(with_up)
        self.check_unique_ids()
        self.check_monotonic_count()
        self.promote()
        backup = self.backup()
        gate, rollup = self._gate[1], self._rollup
        report = {
            # prod == staging by construction (file-level copy), so the row
            # count observed DURING the staging write is the prod count
            "rows": int(self._staging_metrics["n"]),
            "backup": backup,
            "n": gate.n,
            "n_ids": gate.n_ids,
            "strategy": rollup.strategy,
            "iterations": rollup.iterations,
            "n_in_cycle": rollup.n_in_cycle,
        }
        self.alert(f"ROR pipeline succeeded: {json.dumps(report)}")
        return report
