"""Durable parquet-backed state store for the incremental stream dedup operators.

``IncrementalDedup`` / ``IncrementalWinnow`` previously held their
accumulated corpus state as in-session DataFrame unions — a session
restart lost every fingerprint the stream had ingested, so continuous
ingestion (the operators' whole premise) could not survive the first
failure (verdict r10 #1).  This module is the named fix: state lives
as per-batch parquet appends under a caller-supplied directory, with
an ATOMIC manifest deciding what is committed.

Protocol (the idempotent-sink recipe the Structured Streaming
``foreachBatch`` docs prescribe):

* batch N's table writes land first, each into its own
  ``<root>/<table>/batch=NNNNNN/`` dir (``mode=overwrite`` — a
  retried batch silently replaces its own partial residue);
* the manifest then advances to ``batches = N + 1`` via
  write-temp-then-``os.replace`` (atomic on POSIX), also recording
  the operator params and the last Structured-Streaming epoch id;
* readers list ONLY committed batch dirs, so a crash anywhere
  between the first write and the manifest replace leaves the
  committed view exactly as it was before the batch — the restarted
  stream re-folds the batch and the overwrite makes it exact-once.

Scale shape: each batch appends O(batch) rows keyed by
fingerprint/band; the accumulated state is read back as ONE parquet
scan over the committed dirs (constant plan depth — no union tree,
so the in-memory consolidation cadence is unnecessary on this path).
Paths are local-filesystem here (``os.replace`` atomicity; the test
and bench environment is local[n]); on a real cluster the identical
protocol runs against an HDFS/S3A atomic rename or a Delta
transaction log.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "ParquetStateStore",
    "MemEpochGuard",
    "LazyBindings",
    "CONSOLIDATE_EVERY",
    "run_state_stream",
]

_MANIFEST = "_manifest.json"

#: consolidation cadence shared by every incremental operator (the
#: in-session localCheckpoint collapse and the durable compact both
#: key off it); operator modules alias it as a patchable module
#: global for tests
CONSOLIDATE_EVERY = 16


class MemEpochGuard:
    """The in-memory twin of the manifest's lineage-scoped epoch
    high-water mark, single-sourced for every in-session operator
    (review r11 — previously three hand-rolled copies).  Usage
    contract: ``should_skip`` at fold entry, ``mark`` ONLY AFTER the
    fold's actions succeed — marking first would classify a failed
    fold's retry as a replay and silently drop the batch (review
    r11)."""

    def __init__(self) -> None:
        self._last: int | None = None
        self._lineage: str | None = None

    def should_skip(
        self, epoch_id: int | None, epoch_lineage: str | None
    ) -> bool:
        return (
            epoch_id is not None
            and self._last is not None
            and self._lineage == epoch_lineage
            and epoch_id <= self._last
        )

    def mark(self, epoch_id: int | None, epoch_lineage: str | None) -> None:
        if epoch_id is not None:
            self._last = epoch_id
            self._lineage = epoch_lineage


class LazyBindings:
    """Lazy committed-view bindings for the durable incremental
    operators, single-sourced (r13 review / r14 verdict #7 — dedup
    and winnow carried an incremental-extension variant while bm25
    and annindex carried a stale-flag re-read variant; the r11/r12
    serve-determinism bugs came exactly from such drift).

    Contract: a binding is the operator's in-memory DataFrame view of
    one committed state table.  Folds and ``load()``/``compact()``
    never re-read state eagerly — they call :meth:`_mark_stale`, and
    the one committed-view read per table happens on the next
    :meth:`_binding` access (the annindex r12 lesson: eager per-fold
    re-reads cost one file-listing + schema job each, growing with
    stream age).  Between compactions the committed dirs are
    immutable, so a fold that already holds the batch's leaf may
    :meth:`_extend_binding` instead — extending a CURRENT binding
    with one leaf read replaces re-listing the whole table.

    Subclasses call ``_init_bindings(tables)`` in ``__init__`` and
    implement ``_read_binding(table) -> DataFrame | None`` (the one
    committed-view read, operator casts applied)."""

    def _init_bindings(self, tables: tuple[str, ...]) -> None:
        self._binding_tables = tables
        self._bound: dict[str, DataFrame | None] = {
            t: None for t in tables
        }
        self._stale: set[str] = set()

    def _read_binding(self, table: str) -> DataFrame | None:
        raise NotImplementedError  # pragma: no cover - subclass hook

    def _binding(self, table: str) -> DataFrame | None:
        if table in self._stale:
            self._bound[table] = self._read_binding(table)
            self._stale.discard(table)
        return self._bound[table]

    def _set_binding(self, table: str, df: DataFrame | None) -> None:
        """Direct assignment (the in-session path, or a fold that just
        computed the exact new view) — the binding is CURRENT."""
        self._bound[table] = df
        self._stale.discard(table)

    def _extend_binding(self, table: str, leaf: DataFrame) -> None:
        """Append one committed batch leaf to a CURRENT binding (no-op
        fallback to stale if the binding was already stale — extending
        a stale binding would resurrect a pre-compaction view)."""
        if table in self._stale:
            return  # next access re-reads the full committed view
        cur = self._bound.get(table)
        self._bound[table] = (
            leaf if cur is None else cur.unionByName(leaf)
        )

    def _mark_stale(self, *tables: str) -> None:
        """Invalidate bindings (all of them when called bare)."""
        self._stale.update(tables or self._binding_tables)

    def _binding_current(self, table: str) -> bool:
        """Whether the binding can be extended in place — lets a fold
        skip even CONSTRUCTING the batch-leaf read when the binding is
        stale anyway (a parquet read is a schema-inference touch)."""
        return table not in self._stale


class ParquetStateStore:
    """Crash-safe per-batch parquet appends under ``root`` with an
    atomic commit manifest.  One store per operator instance; tables
    are namespaced subdirs (e.g. ``fp``, ``results``)."""

    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- manifest ---------------------------------------------------

    def _manifest_path(self) -> str:
        return os.path.join(self.root, _MANIFEST)

    def manifest(self) -> dict | None:
        """The committed manifest, or None for a fresh store."""
        try:
            with open(self._manifest_path()) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return None

    def committed(self) -> int:
        m = self.manifest()
        return 0 if m is None else int(m["batches"])

    def last_epoch(self) -> int | None:
        m = self.manifest()
        return None if m is None else m.get("last_epoch")

    def should_skip_epoch(
        self, epoch_id: int | None, epoch_lineage: str | None
    ) -> bool:
        """The exactly-once replay guard, single-sourced for every
        operator on this store (review r11): an epoch at or below the
        committed high-water mark is a replay ONLY when it belongs to
        the same epoch sequence — identified by ``epoch_lineage`` (the
        Structured-Streaming checkpointLocation, or None for a direct
        monotone fold sequence).  A stream restarted on a FRESH
        checkpoint numbers its batches from 0 again; without the
        lineage check those real new batches would be silently
        discarded as replays."""
        if epoch_id is None:
            return False
        m = self.manifest()
        if m is None:
            return False
        last = m.get("last_epoch")
        return (
            last is not None
            and m.get("epoch_lineage") == epoch_lineage
            and epoch_id <= last
        )

    def commit(
        self,
        batch_idx: int,
        params: dict,
        epoch_id: int | None,
        tables: tuple[str, ...] = (),
        epoch_lineage: str | None = None,
        snapshot_tables: tuple[str, ...] = (),
        partitioning: dict[str, tuple[str, ...]] | None = None,
    ) -> None:
        """Advance the committed-batch count to ``batch_idx + 1``.
        ``partitioning`` declares hive-partitioned table layouts
        (table -> partition columns, as written via ``write``'s
        ``partition_by``); the manifest carries it so ``read`` unions
        the per-batch dirs correctly and ``compact`` preserves the
        layout.
        Atomic (temp file + ``os.replace``): every reader sees either
        the old manifest or the new one, never a torn write.
        ``tables`` names the tables this batch wrote a dir for — the
        manifest carries the committed dir list per table so readers
        never re-stat the filesystem (O(1) listing per fold instead of
        O(batches) exists() calls, review r11).  Tables also listed in
        ``snapshot_tables`` are REPLACED rather than appended (state
        snapshots, e.g. a CC assignment): the ledger keeps only this
        batch's dir and the superseded dirs are removed after the
        swap — no second manifest write on the per-batch hot path
        (review r11)."""
        m = self.manifest() or {}
        prev = m.get("last_epoch")
        committed_tables = dict(m.get("tables", {}))
        superseded: list[str] = []
        for t in tables:
            lst = list(committed_tables.get(t, []))
            if t in snapshot_tables:
                superseded.extend(
                    self._batch_dir(t, i) for i in lst if i != batch_idx
                )
                lst = [batch_idx]
            elif batch_idx not in lst:
                lst.append(batch_idx)
            committed_tables[t] = lst
        doc = {
            "batches": batch_idx + 1,
            "params": params,
            # keep the high-water mark monotone even when a direct
            # (non-stream) update() call carries no epoch id
            "last_epoch": prev if epoch_id is None else epoch_id,
            "epoch_lineage": (
                m.get("epoch_lineage") if epoch_id is None else epoch_lineage
            ),
            "tables": committed_tables,
            "gens": m.get("gens", {}),
            "partitioning": {
                **(m.get("partitioning") or {}),
                **{k: list(v) for k, v in (partitioning or {}).items()},
            },
        }
        fd, tmp = tempfile.mkstemp(dir=self.root, prefix="._manifest_")
        try:
            with os.fdopen(fd, "w") as fh:
                json.dump(doc, fh)
            os.replace(tmp, self._manifest_path())
        except BaseException:
            try:
                os.unlink(tmp)
            except OSError:
                pass
            raise
        for p in superseded:
            shutil.rmtree(p, ignore_errors=True)

    # -- table I/O ---------------------------------------------------

    def _batch_dir(self, table: str, batch_idx: int) -> str:
        return os.path.join(self.root, table, f"batch={batch_idx:06d}")

    def write(
        self,
        table: str,
        batch_idx: int,
        df: DataFrame,
        partition_by: tuple[str, ...] = (),
    ) -> None:
        """Land batch ``batch_idx``'s rows for ``table`` — overwrite,
        so a crashed batch's retry replaces its own partial residue.
        ``partition_by`` lays the batch dir out as hive-style
        partition subdirs (e.g. the IVF index's ``cell=N`` inverted
        lists) — readers of a partition-keyed table then skip whole
        directories under a partition-column filter.  The layout must
        be declared to :meth:`commit` via ``partitioning`` so readers
        and :meth:`compact` preserve it.

        ``batch``/``gen`` are RESERVED data-column names on
        partitioned tables: the basePath read in :meth:`read`
        discovers them as layout partition columns and drops
        ``batch``, so a data column with either name would be
        silently corrupted — raise loudly instead (advice r12)."""
        if partition_by:
            reserved = {"batch", "gen"} & set(df.columns)
            if reserved:
                raise ValueError(
                    f"table {table!r}: data column(s) {sorted(reserved)} "
                    "collide with the partitioned state layout's reserved "
                    "names ('batch'/'gen' name the per-batch and "
                    "consolidated generation dirs, and the basePath read "
                    "would drop or misbind them) — rename the column(s)"
                )
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self._batch_dir(table, batch_idx))

    def write_many(
        self, writes: list[tuple]
    ) -> None:
        """Land several INDEPENDENT tables' batch dirs concurrently
        (one Spark job per write, each on its own InheritableThread —
        Spark schedules concurrent actions on one session natively).
        At micro-batch state sizes each write job is dominated by
        fixed scheduling/committer overhead, so overlapping them takes
        the per-fold write cost from sum to max.  Each entry is
        ``(table, batch_idx, df)`` or ``(table, batch_idx, df,
        partition_by)``.  Crash-safety is
        unchanged: nothing becomes visible until :meth:`commit`, write
        order never mattered, and a failed write both propagates (the
        fold never commits) and leaves only invisible residue the
        retry's overwrite / the orphan sweep reclaims."""
        if not writes:
            return
        if len(writes) == 1:
            self.write(*writes[0])
            return
        # InheritableThread, not a plain ThreadPoolExecutor: under
        # PySpark's pinned-thread mode every Python thread that
        # touches Py4J pairs with a JVM thread, and plain short-lived
        # threads leak those pairs — on a months-long stream (one
        # fold per micro-batch) the JVM thread count would grow
        # without bound.  InheritableThread deallocates its paired
        # JVM thread on exit (review r11).
        from pyspark import InheritableThread

        # fail-fast contract (advice r11): the first failed write
        # cancels the shared job group, so hung sibling write jobs are
        # interrupted instead of wedging the joins forever, and EVERY
        # error is surfaced — multiple failures raise as an
        # ExceptionGroup rather than silently dropping all but the
        # first.
        spark = writes[0][2].sparkSession
        group = f"ccs-write-many-{uuid.uuid4().hex}"
        errors: list[BaseException] = []

        def _run(*w) -> None:
            try:
                spark.sparkContext.setJobGroup(
                    group, "state store write_many", interruptOnCancel=True
                )
                self.write(*w)
            except BaseException as e:  # surfaced after the join
                errors.append(e)
                try:
                    spark.sparkContext.cancelJobGroup(group)
                except BaseException:
                    pass  # cancellation is best-effort; errors still raise

        threads = [
            InheritableThread(target=_run, args=w) for w in writes
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        if len(errors) == 1:
            raise errors[0]
        if errors:
            raise ExceptionGroup("write_many: multiple writes failed", errors)

    def batch_has_data(self, table: str, batch_idx: int) -> bool:
        """Whether batch ``batch_idx``'s landed dir holds any DATA file
        (hive-partitioned writes of zero rows leave a _SUCCESS-only dir
        no reader can bind a schema to).  Lets a fold derive emptiness
        from the write it already performed — one dir walk instead of a
        second evaluation of the batch plan (r12)."""
        for _root, _dirs, files in os.walk(self._batch_dir(table, batch_idx)):
            if any(not f.startswith(("_", ".")) for f in files):
                return True
        return False

    def discard_batch(self, table: str, batch_idx: int) -> None:
        """Remove an UNCOMMITTED batch dir (e.g. an empty partitioned
        write the fold decided not to ledger).  Never call on a dir the
        manifest references."""
        shutil.rmtree(self._batch_dir(table, batch_idx), ignore_errors=True)

    def read_batch(
        self, spark: SparkSession, table: str, batch_idx: int
    ) -> DataFrame:
        """One batch's rows, as a plain parquet scan (the materialized
        leaf that replaces ``localCheckpoint`` on the durable path)."""
        return spark.read.parquet(self._batch_dir(table, batch_idx))

    def last_batch(self, table: str) -> int | None:
        """Highest committed batch index that wrote ``table``, or None
        — the read anchor for SNAPSHOT tables (state replaced per
        batch, e.g. a CC assignment), where only the latest committed
        dir is current, unlike the append tables ``read`` unions."""
        m = self.manifest() or {}
        idxs = (m.get("tables") or {}).get(table, [])
        return max(idxs) if idxs else None

    def read(
        self, spark: SparkSession, table: str, upto: int
    ) -> DataFrame | None:
        """All COMMITTED rows of ``table`` (batches 0..upto-1) as one
        multi-path parquet scan, or None when no committed batch wrote
        the table (e.g. ``results`` before the first non-seed batch).
        The committed dir list comes from the manifest — no
        filesystem probing, so the per-fold cost does not grow with
        stream age and the protocol stays object-store-friendly
        (review r11).  Manifests written before the table ledger
        existed fall back to an exists() sweep.  A compacted table's
        consolidated generation dir (pre-compaction history) is
        included regardless of ``upto`` — callers pass the committed
        batch count, which always covers it."""
        m = self.manifest() or {}
        committed = m.get("tables")
        paths: list[str] = []
        gen = (m.get("gens") or {}).get(table)
        if gen is not None:
            paths.append(self._gen_dir(table, gen))
        if committed is not None:
            idxs = [i for i in committed.get(table, []) if i < upto]
        else:  # pre-ledger manifest: legacy probe
            idxs = [
                i
                for i in range(upto)
                if os.path.exists(self._batch_dir(table, i))
            ]
        paths.extend(self._batch_dir(table, i) for i in sorted(idxs))
        if not paths:
            return None
        pb = (m.get("partitioning") or {}).get(table)
        if pb:
            # hive-partitioned batch dirs ARE themselves hive-named
            # (`batch=NNNNNN/<pcol>=V/...`), so ONE scan rooted at the
            # table dir (`basePath`) discovers `batch` plus the declared
            # partition columns across every committed dir — replacing
            # the per-dir read + union tree of r11, whose per-dir file
            # listing/schema jobs dominated fixture-scale serves (r12;
            # `batch` is dropped, and data columns named `batch`/`gen`
            # are reserved by this layout).  The consolidated `gen=` dir
            # cannot join that scan (conflicting partition names at the
            # same depth), so it keeps its own discovery — union fan-in
            # is ≤ 2 regardless of stream age.
            tdir = os.path.join(self.root, table)
            batch_paths = [
                p for p in paths if os.path.basename(p).startswith("batch=")
            ]
            gen_paths = [
                p for p in paths if os.path.basename(p).startswith("gen=")
            ]
            parts = []
            for gp in gen_paths:  # at most one generation per table
                parts.append(spark.read.parquet(gp))
            if batch_paths:
                parts.append(
                    spark.read.option("basePath", tdir)
                    .parquet(*batch_paths)
                    .drop("batch")
                )
            out = parts[0]
            for d in parts[1:]:
                out = out.unionByName(d)
            return out
        return spark.read.parquet(*paths)

    # -- compaction ---------------------------------------------------

    def _gen_dir(self, table: str, gen: int) -> str:
        return os.path.join(self.root, table, f"gen={gen:06d}")

    def compact(
        self,
        spark: SparkSession,
        tables: list[str] | None = None,
        snapshot_tables: tuple[str, ...] = (),
    ) -> None:
        """Consolidate a long-running stream's state (r11): append
        tables' committed per-batch dirs (plus any prior generation)
        are rewritten into ONE ``gen=<batches>`` dir and the ledger
        truncated, so read fan-in stays O(1) over months of ingestion
        instead of one dir per batch; ``snapshot_tables`` (state
        REPLACED per batch, e.g. a CC assignment) need no rewrite —
        every dir but the latest committed one is dropped.

        Crash-safe like the fold protocol: the new generation dir is
        fully written BEFORE the single atomic manifest swap that
        references it, and cleanup runs only AFTER the swap.  Cleanup
        is a full ORPHAN SWEEP, not a diff against the old manifest
        (review r11): every dir under a managed table that the NEW
        manifest does not reference is deleted — so residue from any
        earlier crash (a compact that died between its swap and its
        rmtree loop, a generation written but never referenced, an
        uncommitted snapshot) is reclaimed here instead of
        accumulating forever."""
        m = self.manifest()
        if m is None:
            return
        ledger = {k: list(v) for k, v in (m.get("tables") or {}).items()}
        gens = dict(m.get("gens", {}))
        changed = False
        for table in tables if tables is not None else list(ledger):
            if table in snapshot_tables:
                continue
            idxs = ledger.get(table, [])
            cur_gen = gens.get(table)
            if (1 if cur_gen is not None else 0) + len(idxs) <= 1:
                continue  # nothing to consolidate
            df = self.read(spark, table, int(m["batches"]))
            if df is None:
                continue
            new_gen = int(m["batches"])
            if cur_gen is not None and new_gen <= cur_gen:
                # only reachable via a crashed compact at the same
                # batch count — keep the generation monotone
                new_gen = cur_gen + 1
            w = df.write.mode("overwrite")
            pb = (m.get("partitioning") or {}).get(table)
            if pb:  # preserve the hive layout through consolidation
                w = w.partitionBy(*pb)
            w.parquet(self._gen_dir(table, new_gen))
            gens[table] = new_gen
            ledger[table] = []
            changed = True
        for table in snapshot_tables:
            idxs = sorted(ledger.get(table, []))
            if len(idxs) > 1:
                ledger[table] = [idxs[-1]]
                changed = True
        if changed:
            doc = dict(m, tables=ledger, gens=gens)
            fd, tmp = tempfile.mkstemp(dir=self.root, prefix="._manifest_")
            try:
                with os.fdopen(fd, "w") as fh:
                    json.dump(doc, fh)
                os.replace(tmp, self._manifest_path())
            except BaseException:
                try:
                    os.unlink(tmp)
                except OSError:
                    pass
                raise
        self._sweep_orphans()

    def _sweep_orphans(self) -> None:
        """Delete every dir under a manifest-managed table that the
        CURRENT manifest does not reference.  Readers only ever follow
        the manifest, so anything unreferenced is invisible residue
        (a crashed compact's half-written generation, a generation
        superseded by a later swap, a snapshot replaced by commit, an
        uncommitted batch whose fold never retried).  Runs only from
        :meth:`compact`, which operators call synchronously AFTER
        committing their own batch — never concurrent with an
        in-flight uncommitted write (the single-threaded operator
        contract)."""
        m = self.manifest()
        if m is None:
            return
        ledger = m.get("tables") or {}
        gens = m.get("gens") or {}
        for table in set(ledger) | set(gens):
            tdir = os.path.join(self.root, table)
            keep = {
                os.path.basename(self._batch_dir(table, i))
                for i in ledger.get(table, [])
            }
            if gens.get(table) is not None:
                keep.add(os.path.basename(self._gen_dir(table, gens[table])))
            try:
                names = os.listdir(tdir)
            except OSError:
                continue
            for name in names:
                if name in keep or not (
                    name.startswith("batch=") or name.startswith("gen=")
                ):
                    continue
                shutil.rmtree(os.path.join(tdir, name), ignore_errors=True)


def run_state_stream(
    stream: DataFrame,
    state,
    prepare=None,
    checkpoint_dir: str | None = None,
):
    """Shared ``foreachBatch`` runner for every incremental operator
    on this store contract (dedup, winnow, CC, ANN index) — single-
    sourced like MemEpochGuard after four near-verbatim copies
    drifted into existence (review r11).  Drives ``state.update`` per
    micro-batch with the available-now trigger (processes the backlog,
    then stops); ``prepare`` optionally maps the raw batch rows to the
    operator's input shape (runs in batch context, so windows etc.
    are available).  With ``checkpoint_dir`` (and a durable state), a
    restarted stream replays only uncommitted epochs and the lineage-
    scoped epoch guard makes the fold exactly-once end to end."""

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        b = prepare(batch_df) if prepare is not None else batch_df
        state.update(b, epoch_id=batch_id, epoch_lineage=checkpoint_dir)

    writer = stream.writeStream.foreachBatch(_fold).trigger(
        availableNow=True
    )
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    q.awaitTermination()
    return state
