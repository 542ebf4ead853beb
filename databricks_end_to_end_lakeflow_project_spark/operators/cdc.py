"""CDC / SCD Type 1 kernel: sequence-ordered dedup + keyed upsert (MERGE
emulation) on parquet-backed managed tables.

This is the engine's re-expression of the reference's two CDC primitives
(SURVEY.md §2.5 W1, §2.1 S8):

- ``dlt.create_auto_cdc_flow(..., keys, sequence_by, stored_as_scd_type=1)``
  (`dlt_bronze_to_silver_pipeline.py:30-36`): per business key, order
  change rows by the sequence column, keep the latest → `latest_by_key`.
- ``DeltaTable.merge(...).whenMatchedUpdateAll(condition="src.modifiedDate
  >= trg.modifiedDate").whenNotMatchedInsertAll()``
  (`DIM_Gold_layer.py:273-283`): latest-wins keyed upsert →
  `ManagedParquetTable.upsert`.

No delta-spark is available in this environment, so MERGE is emulated with
a pure DataFrame plan: tag target rows and update rows, union, and keep
one winner per key by (sequence DESC, is_update DESC) — which reproduces
the reference's `src.seq >= trg.seq` tie-goes-to-update semantics exactly.
The result is staged as new files and committed by one entry in the
table's commit log (`ManagedParquetTable`), Delta's commit point.

Scale notes (100 TB): the winner-per-key plan is ONE shuffle on the
business key (same cost class as Delta MERGE's join); it is a union and a
window, so nothing is broadcast. It runs over the batch and the files
`upsert` picks from the log: every live file, or — when the table is
partitioned by columns that are all in the key — only the files of the
partitions the batch touches, and the commit carries every other file
over. Partitioning the table (``partition_by``) so is what bounds the
rewrite below the whole table.
"""

from __future__ import annotations

import contextlib
import fcntl
import glob
import json
import os
import re
import shutil
import time
import uuid
from collections.abc import Callable, Sequence
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from databricks_end_to_end_lakeflow_project_spark.registry import query
from databricks_end_to_end_lakeflow_project_spark.sources.readers import (
    read_spark_parquet,
    read_table,
    spark_parquet_file_rows,
)

_SRC = "__is_update"
_RN = "__cdc_rn"
_LOCK = ".lock"  # the commit lock, in the table's _log dir


def latest_by_key(
    df: DataFrame,
    keys: Sequence[str],
    sequence_by: Sequence[str],
    tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """Latest record per business key, ordered by sequence columns DESC.

    Reference W1 (`dlt.create_auto_cdc_flow` sequence semantics). Pass
    ``tiebreakers`` (unique within key+sequence) to make the choice
    deterministic when the sequence column ties — mandatory for
    oracle-reproducible results and for cluster-scale determinism.
    """
    order = [F.col(c).desc_nulls_last() for c in [*sequence_by, *tiebreakers]]
    w = Window.partitionBy(*keys).orderBy(*order)
    return df.withColumn(_RN, F.row_number().over(w)).filter(F.col(_RN) == 1).drop(_RN)


def _apply_truncates(
    df: DataFrame, sequence_by: str, truncate_col: str | None, markers: DataFrame | None
) -> DataFrame:
    """Drop rows whose sequence predates the latest truncate marker.
    ``markers`` is the (possibly empty) marker frame; its MAX(sequence)
    broadcasts as a 1-row literal — no driver collect, no shuffle."""
    tmax = (markers if markers is not None else df.limit(0)).agg(
        F.max(sequence_by).alias("__tseq")
    )
    out = (
        df.crossJoin(F.broadcast(tmax))
        .filter(F.col("__tseq").isNull() | (F.col(sequence_by) >= F.col("__tseq")))
        .drop("__tseq")
    )
    return out


def merge_upsert_plan(
    target: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    sequence_by: str | None,
    delete_col: str | None = None,
    truncate_col: str | None = None,
) -> DataFrame:
    """Pure-DataFrame MERGE: latest-wins upsert of ``updates`` into
    ``target``; returns the new table contents.

    Semantics match `DIM_Gold_layer.py:276-283`:
    - not matched → insert;
    - matched → update iff ``updates.seq >= target.seq`` (tie → update);
    - with ``sequence_by=None`` updates always win on match.

    ``delete_col`` names a boolean column on ``updates`` flagging delete
    events (DLT ``apply_as_deletes``, supported by the reference's
    `dlt.create_auto_cdc_flow` API though its pipeline never passes it):
    the latest change per key decides — if that winner is a flagged
    delete, the key leaves the table; an out-of-sequence delete (older
    than the target's row) is ignored like any stale update.

    No tombstones are retained: an update arriving in a LATER batch with
    a sequence older than an already-applied delete re-inserts the row
    (the delete left nothing to compare against). DLT bounds this with a
    tombstone retention window; here the contract is the usual streaming
    one — feed batches in sequence order per key (the pipeline's
    micro-batches do), and intra-batch disorder resolves correctly.

    ``truncate_col`` names a boolean column flagging TRUNCATE directives
    (DLT ``apply_as_truncates`` — full-snapshot reload support): every
    target row AND every change older than the newest truncate's
    sequence is discarded before the merge; changes at or after it apply
    normally. Requires ``sequence_by``.
    """
    cols = list(target.columns)
    extra = [c for c in (delete_col, truncate_col) if c]
    updates = updates.select(*cols, *extra)
    if truncate_col:
        if not sequence_by:
            raise ValueError("truncate_col requires sequence_by")
        markers = updates.filter(F.coalesce(F.col(truncate_col), F.lit(False)))
        updates = _apply_truncates(
            updates.filter(~F.coalesce(F.col(truncate_col), F.lit(False))).drop(
                truncate_col
            ),
            sequence_by, truncate_col, markers,
        )
        target = _apply_truncates(target, sequence_by, truncate_col, markers)
    # ONE window over updates ∪ target picks each key's winner: the top
    # row by (sequence DESC, is_update DESC) is the batch's latest change
    # when that change's sequence is >= the target's, else the target
    # row — the same winner as deduping the batch first and merging the
    # survivor, without the dedup's own shuffle
    order = [F.col(_SRC).desc()]
    if sequence_by:
        order.insert(0, F.col(sequence_by).desc_nulls_last())
    if delete_col:
        target = target.withColumn(delete_col, F.lit(False))
    tagged = updates.withColumn(_SRC, F.lit(1)).unionByName(
        target.withColumn(_SRC, F.lit(0))
    )
    w = Window.partitionBy(*keys).orderBy(*order)
    merged = (
        tagged.withColumn(_RN, F.row_number().over(w))
        .filter(F.col(_RN) == 1)
        .drop(_RN, _SRC)
    )
    if delete_col:
        merged = merged.filter(~F.coalesce(F.col(delete_col), F.lit(False))).drop(
            delete_col
        )
    return merged


class ConcurrentWriteError(RuntimeError):
    """Delta ``ConcurrentAppendException`` analogue: the table's commit
    version moved past the snapshot a conditional write was based on —
    the caller must re-read and retry (optimistic concurrency)."""


class ManagedParquetTable:
    """Parquet-backed managed table with a commit log: atomic overwrite,
    append and MERGE-style upsert (the engine's stand-in for a Delta
    table, SURVEY §4.1).

    COMMIT LOG: ``<table>/_log/<n>.json`` is entry n, the table's state
    after its (n+1)-th commit. An entry lists every live data file as an
    ``add`` action with the row count of that file's footer, and the
    files the commit dropped as ``remove`` actions; a file's partition
    values are its hive-style path. A writer stages its files in a
    sibling dir OUTSIDE the lock (`_stage`, the expensive Spark job);
    under the lock it moves them into the table dir and creates the next
    entry exclusively: a temp file hard-linked to ``<n>.json``, which
    fails if the name exists (Delta's putIfAbsent of its log entry).
    That create is the COMMIT POINT, the same for every kind of commit
    (`_publish`). A writer that dies before it leaves files no entry
    names, and one that dies after it has committed; no file is renamed
    or rewritten once named, so nothing ever rolls forward.
    `tests/test_crash_recovery.py` holds the kill-point matrix.

    PROGRESS: an entry also holds a ``txn`` map of {progress id: JSON
    value}, Delta's ``SetTransaction``. Every commit copies the newest
    entry's map forward and applies its caller's updates (``append``/
    ``overwrite`` ``txn=``), so progress commits with the rows it covers;
    `txn` reads it. An entry written without a map reads as ``{}``.

    Readers take an entry's file list and never list the directory,
    which also holds the files of retained entries. The post-commit
    vacuum keeps the files of the retained entries and of the entry the
    commit replaced, so a scan planned before a commit still finds its
    files after it, also at ``retain_versions == 0``.

    OPTIMISTIC CONCURRENCY: commits serialize through an exclusive
    ``flock`` on ``_log/.lock`` (`_locked`), which excludes threads and
    processes alike and which the kernel drops when its holder dies, so
    a crashed writer never leaves the table locked. Writers that based
    their batch on a snapshot pass ``expect_version=table.version()``; if
    another writer committed in between, the commit raises
    :class:`ConcurrentWriteError` instead of silently clobbering —
    read-modify-write cycles (MERGE, SCD flows) retry from a fresh read,
    exactly Delta's protocol. Blind
    writes (``overwrite``, ``append`` and ``restore`` with no
    ``expect_version``), whose content does not come from the table,
    serialize through the lock and are never torn. Read-modify-write
    commits (`upsert`, `optimize`, `delete_where`, `scd2_apply`) are
    conditional on the entry they read even when the caller passes no
    version: a commit landing between their read and theirs makes them
    raise instead of dropping its rows. Only the moves and the entry
    create hold the lock.

    Read schema: Delta takes it from the log; here ``read`` takes the
    schema Spark stored in the footer of the entry's first data file by
    path, by one pyarrow metadata read in this process
    (`sources.readers.read_spark_parquet`); partition columns come from
    the files' paths. A read launches no Spark job.

    Column statistics: sessions from `session.get_spark` write timestamps
    as TIMESTAMP_MICROS (INT64) instead of Spark's default INT96, because
    INT96 columns keep no min/max in the footer. With them a high-water
    mark such as the gold builders' MAX(modifiedDate) is answered from
    the footers of the live files (`sources.readers.spark_parquet_max`),
    as Delta answers it from its log, with no Spark job. Tables written
    as INT96 still read the same values; their maxima cost an aggregate.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: Sequence[str] | None = None,
        sequence_by: str | None = None,
        partition_by: Sequence[str] | None = None,
        retain_versions: int = 0,
    ) -> None:
        self.spark = spark
        self.path = path
        self.keys = list(keys or [])
        self.sequence_by = sequence_by
        self.partition_by = list(partition_by or [])
        # >0 enables Delta-style time travel: the newest `retain_versions`
        # replaced states stay readable by version (see `history`)
        self.retain_versions = retain_versions

    # -- the log -------------------------------------------------------------

    def _log_dir(self) -> str:
        return os.path.join(self.path, "_log")

    def _entries(self) -> list[int]:
        """Numbers of the log entries on disk, oldest first."""
        try:
            names = os.listdir(self._log_dir())
        except FileNotFoundError:
            return []
        return sorted(
            int(n[:-5]) for n in names if n.endswith(".json") and n[:-5].isdigit()
        )

    def _entry(self, n: int) -> dict:
        """Entry ``n`` as written: its ``add``, ``remove`` and ``txn``."""
        with open(os.path.join(self._log_dir(), f"{n}.json")) as fh:
            return json.load(fh)

    def _newest(self) -> tuple[int, dict]:
        """The table's version (commits so far) and its newest entry, read
        once; ``(0, {})`` for a table with none."""
        while entries := self._entries():
            with contextlib.suppress(FileNotFoundError):  # vacuumed meanwhile
                return entries[-1] + 1, self._entry(entries[-1])
        return 0, {}

    def txn(self) -> dict:
        """The newest entry's progress map; ``{}`` for a table with none."""
        return self._newest()[1].get("txn", {})

    def _live(self, version: int | None = None) -> dict[str, int]:
        """The files of ``version`` (default: the newest entry; {} for a
        table with none). Raises ValueError for a version not retained."""
        if version is None:
            return _adds(self._newest()[1])
        if version in (*self.history(), *self._entries()[-1:]):
            with contextlib.suppress(FileNotFoundError):
                return _adds(self._entry(version))
        raise ValueError(f"version {version} not retained; available: {self.history()}")

    def files(self, version: int | None = None) -> list[str]:
        """Paths of the data files of ``version`` (default: now), sorted."""
        return sorted(os.path.join(self.path, f) for f in self._live(version))

    def rows(self, version: int | None = None) -> int:
        """Row count of ``version`` (default: now), summed from the log."""
        return sum(self._live(version).values())

    def exists(self) -> bool:
        return bool(self._live())

    def read(self, version: int | None = None) -> DataFrame:
        """Current state, or a retained one by version number (Delta
        time-travel analogue; see :meth:`history`). Raises
        FileNotFoundError for a table with no commit."""
        files = self.files(version)
        if not files and not self._entries():
            raise FileNotFoundError(f"managed table {self.path} has no commit")
        return read_spark_parquet(self.spark, self.path, files=files)

    def read_stream(self, spark: SparkSession | None = None) -> DataFrame:
        """Streaming scan of the current state of an unpartitioned table,
        on ``spark`` (default: the table's session): the table dir with a
        ``pathGlobFilter`` of the file names the newest entry lists, so
        replaced files in the dir never feed it."""
        names = ",".join(os.path.basename(f) for f in self.files())
        return (
            (spark or self.spark).readStream.schema(self.read().schema)
            .option("pathGlobFilter", f"{{{names}}}")
            .parquet(self.path)
        )

    def version(self) -> int:
        """Number of commits so far (0 for a never-committed table). Pass
        this as ``expect_version`` to a later write to make it
        conditional on no intervening commit."""
        entries = self._entries()
        return entries[-1] + 1 if entries else 0

    def history(self) -> list[int]:
        """Retained older versions, oldest first: the entries before the
        newest, at most ``retain_versions`` back (the CURRENT state is
        one newer than the last of them)."""
        entries = self._entries() or [0]
        return [n for n in entries[:-1] if n >= entries[-1] - self.retain_versions]

    # -- optimistic-concurrency commit protocol -----------------------------

    @contextlib.contextmanager
    def _commit(self, expect_version: int | None, timeout: float = 30.0):
        """The commit section: takes the table's lock (`_locked`) and
        verifies the expected version inside it. The body creates the
        next log entry (`_publish`); the post-commit vacuum then drops the
        entries past ``retain_versions``, keeping the one just replaced,
        and the files no remaining entry names."""
        with self._locked(timeout):
            if expect_version is not None and self.version() != expect_version:
                raise ConcurrentWriteError(
                    f"{self.path}: version moved {expect_version} -> "
                    f"{self.version()}; re-read and retry"
                )
            yield
            self._vacuum_locked(self.version() - 1 - max(self.retain_versions, 1))

    @contextlib.contextmanager
    def _locked(self, timeout: float = 30.0):
        """Exclusive ``flock`` on ``_log/.lock``, polled until ``timeout``
        (then TimeoutError). Each acquisition opens its own descriptor, so
        threads of one process exclude each other as processes do, and
        the kernel releases the lock when the descriptor closes, also when
        its process is killed: no lock outlives its owner. The file is
        never removed; a waiter could otherwise lock a fresh inode while
        the old one is held."""
        os.makedirs(self._log_dir(), exist_ok=True)
        with open(os.path.join(self._log_dir(), _LOCK), "a") as fh:
            deadline = time.monotonic() + timeout
            while True:
                try:
                    fcntl.flock(fh, fcntl.LOCK_EX | fcntl.LOCK_NB)
                    break
                except BlockingIOError:
                    if time.monotonic() > deadline:
                        raise TimeoutError(f"commit lock busy: {fh.name}") from None
                    time.sleep(0.02)
            yield

    def _stage(self, df: DataFrame) -> str:
        """Write ``df`` to a fresh stage dir (the expensive Spark job,
        OUTSIDE the commit lock) and return its path. A write that raises
        — e.g. a FAIL expectation aborting it — removes its stage dir
        before re-raising: the vacuum only reclaims stages of dead
        writers, so a live process would otherwise keep it."""
        tmp = f"{self.path}.__tmp_{os.getpid()}_{uuid.uuid4().hex[:8]}"
        writer = df.write.mode("overwrite")
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        try:
            writer.parquet(tmp)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        return tmp

    def _publish(
        self,
        stage: str | None,
        expect_version: int | None,
        carry: Callable[[dict[str, int]], dict[str, int]] = lambda live: {},
        txn: dict | None = None,
    ) -> None:
        """The one publish path. ``stage`` (from `_stage`, or None) holds
        the new files, whose row counts come from their footers before
        the lock is taken; ``carry`` maps the current entry's files to
        those that stay live; ``txn`` updates the copied progress map.
        Under the lock the staged files move into the table dir and the
        next entry is created — the commit point."""
        added = spark_parquet_file_rows(stage) if stage else {}
        try:
            with self._commit(expect_version):
                _, entry = self._newest()
                live = _adds(entry)
                files = {**carry(live), **added}
                for rel in added:
                    dst = os.path.join(self.path, rel)
                    os.makedirs(os.path.dirname(dst), exist_ok=True)
                    os.rename(os.path.join(stage, rel), dst)
                txn = {**entry.get("txn", {}), **(txn or {})}
                self._create_entry(files, sorted(set(live) - set(files)), txn)
        except (ConcurrentWriteError, TimeoutError):
            if stage:
                shutil.rmtree(stage, ignore_errors=True)  # abandoned stage
            raise
        if stage:
            shutil.rmtree(stage, ignore_errors=True)  # the writer's markers

    def _create_entry(self, files: dict[str, int], removed: list[str], txn: dict) -> None:
        """Create the next log entry exclusively: write a hidden temp file,
        then hard-link it to ``<n>.json``, which fails if the name exists."""
        log = self._log_dir()
        n = self.version()
        os.makedirs(log, exist_ok=True)
        tmp = os.path.join(log, f".{n}.{os.getpid()}.{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as fh:
            json.dump(
                {
                    "add": [{"path": f, "rows": r} for f, r in sorted(files.items())],
                    "remove": removed,
                    "txn": txn,
                },
                fh,
            )
        try:
            os.link(tmp, os.path.join(log, f"{n}.json"))
        except FileExistsError:
            raise ConcurrentWriteError(
                f"{self.path}: entry {n} exists; re-read and retry"
            ) from None
        finally:
            os.remove(tmp)

    def _vacuum_locked(self, oldest: int) -> int:
        """Drop the entries numbered below ``oldest`` (never the newest),
        then delete every file in the table dir that no remaining entry
        names and the stage dirs of dead writers (``__tmp_<pid>_…``; a
        live writer staging concurrently is never touched). Entries go
        first, so a crash part-way leaves only unnamed files, which the
        next vacuum deletes. Lock held; returns the entries dropped."""
        from databricks_end_to_end_lakeflow_project_spark.sources.scratch import (
            _alive,
        )

        log = self._log_dir()
        entries = self._entries()
        doomed = [n for n in entries[:-1] if n < oldest]
        for n in doomed:
            os.remove(os.path.join(log, f"{n}.json"))
        named = {f for n in entries if n not in doomed for f in _adds(self._entry(n))}
        for root, _dirs, names in os.walk(self.path, topdown=False):
            rel = os.path.relpath(root, self.path)
            for f in names:
                if os.path.normpath(os.path.join(rel, f)) not in named and not (
                    root == log and (f.endswith(".json") or f == _LOCK)
                ):
                    os.remove(os.path.join(root, f))
            if root not in (self.path, log) and not os.listdir(root):
                os.rmdir(root)  # a partition dir whose files all went
        for d in glob.glob(f"{glob.escape(self.path)}.__tmp_*"):
            m = re.match(r"\.__tmp_(\d+)_", d[len(self.path):])
            if m and not _alive(int(m.group(1))):
                shutil.rmtree(d, ignore_errors=True)
        return len(doomed)

    def recover(self, timeout: float = 30.0) -> None:
        """Delete what crashed writers left: files no entry names and
        dead writers' stage dirs (their lock died with them). Runs under
        the commit lock; a no-op on a healthy table."""
        with self._locked(timeout):
            self._vacuum_locked(0)

    def vacuum(self, retain_last: int = 0) -> int:
        """Drop all but the newest ``retain_last`` replaced versions and
        the files only they named (Delta VACUUM analogue); returns the
        number of entries dropped. Unlike the post-commit vacuum it keeps
        no extra entry, so ``vacuum(0)`` leaves exactly the current files."""
        with self._locked():
            return self._vacuum_locked(self.version() - 1 - retain_last)

    # -- commits -------------------------------------------------------------

    def overwrite(self, df: DataFrame, expect_version: int | None = None,
                  txn: dict | None = None) -> None:
        self._publish(self._stage(df), expect_version, txn=txn)

    def append(self, df: DataFrame, expect_version: int | None = None,
               txn: dict | None = None) -> None:
        """Append commit: the new entry carries every live file over and
        adds the batch's, so one entry create publishes the whole batch —
        partitioned or not, a reader or a crash sees all of it or none."""
        self._publish(self._stage(df), expect_version, carry=dict, txn=txn)

    def restore(self, version: int) -> None:
        """Delta `RESTORE TABLE ... TO VERSION AS OF` analogue: commit a
        retained version's files as the CURRENT state again. The replaced
        state stays in the history like any overwrite's, so a bad restore
        is itself restorable. No data is copied: files are immutable and
        the retained entry already names them."""
        self._publish(None, None, carry=lambda live: self._live(version))

    def optimize(
        self,
        target_rows_per_file: int = 1 << 20,
        expect_version: int | None = None,
    ) -> int:
        """Delta ``OPTIMIZE`` analogue: rewrite the table's current
        content into ≈``target_rows_per_file``-row files, collapsing the
        small files that accumulate under append-heavy workloads. Pure
        compaction — ``coalesce``, never a shuffle: bin-packing does not
        need co-location, and at 100 TB a repartition would move every
        byte twice (use `cluster_zorder` when data-skipping LAYOUT is the
        goal, not file count). The bins are sized from the row counts the
        log records, so the table is read once, by the staging scan. The
        rewrite is an ordinary optimistic-concurrency overwrite commit,
        conditional on ``expect_version`` or, when the caller passes
        none, on the version current before that scan: an append landing
        in between is a loud ``ConcurrentWriteError``, never a lost
        update. Returns the output file-bin count."""
        if expect_version is None:
            expect_version = self.version()
        bins = max(1, -(-self.rows() // target_rows_per_file))
        self.overwrite(self.read().coalesce(bins), expect_version=expect_version)
        return bins

    def upsert(self, updates: DataFrame, keys: Sequence[str] | None = None,
               sequence_by: str | None = None, delete_col: str | None = None,
               truncate_col: str | None = None,
               merge_schema: bool = False,
               expect_version: int | None = None) -> None:
        """Latest-wins keyed upsert (reference S8), one path: read the
        newest log entry, pick the files the merge must read, merge them
        with the batch (`merge_upsert_plan`), and commit the result plus
        every file not picked, conditional on the entry read — or on
        ``expect_version`` when the caller passes one. Another writer's
        commit in between raises :class:`ConcurrentWriteError` instead
        of losing that writer's rows.

        The pick:
        - no file when the table has none: the first write is the merge
          over an empty target, so the batch dedups to one row per key,
          flagged deletes (``delete_col``) never materialize, and
          truncate markers (``truncate_col``) discard the batch's changes
          older than them;
        - the files of the partitions the batch touches when every
          partition column is in the key (so a row can never move
          between partitions — Delta's pruned-MERGE precondition), with
          neither ``merge_schema`` nor ``truncate_col`` (a truncate is a
          whole-table directive). The touched values come off the batch
          by one distinct collect; a batch that touches none commits
          nothing;
        - otherwise every file.

        ``merge_schema=True`` is Delta's ``mergeSchema`` analogue (the
        schema-drift companion to the bronze layer's ``_rescued_data``,
        reference T4): update columns the target lacks are ADDED to the
        table, null-filled for untouched rows. Without it, unknown
        update columns are dropped (Delta's default strictness). Column
        removals never propagate — existing columns are null-filled on
        the update side either way."""
        keys = list(keys or self.keys)
        sequence_by = sequence_by or self.sequence_by
        if not keys:
            raise ValueError("upsert requires business keys")
        version, entry = self._newest()
        live = _adds(entry)
        picked = set(live)
        if (
            live
            and self.partition_by
            and not merge_schema
            and not truncate_col
            and set(self.partition_by) <= set(keys)
        ):
            # cast to strings as the writer casts them into directory names
            touched = {
                tuple(None if v in (None, "") else v for v in r)
                for r in updates.select(
                    *[F.col(p).cast("string") for p in self.partition_by]
                ).distinct().collect()
            }
            if not touched:
                return  # empty batch: nothing to merge, no commit
            picked = {f for f in live if _partition_values(f) in touched}
        extra = [c for c in (delete_col, truncate_col) if c]
        table = (
            read_spark_parquet(
                self.spark, self.path, files=[os.path.join(self.path, f) for f in live]
            )
            if live
            else updates.drop(*extra)
        )
        if not picked:
            target = table.limit(0)
        elif len(picked) == len(live):
            target = table
        else:  # the table's schema: partition types inferred over every file
            target = (
                self.spark.read.schema(table.schema)
                .option("basePath", self.path)
                .parquet(*sorted(os.path.join(self.path, f) for f in picked))
            )
        if merge_schema:
            utypes = dict(updates.dtypes)
            for c in updates.columns:
                if c not in target.columns and c not in extra:
                    # widen lazily; the merge's commit persists it
                    target = target.withColumn(c, F.lit(None).cast(utypes[c]))
        merged = merge_upsert_plan(
            target, updates, keys, sequence_by, delete_col=delete_col,
            truncate_col=truncate_col,
        )
        self._publish(
            self._stage(merged),
            version if expect_version is None else expect_version,
            carry=lambda now: {f: n for f, n in now.items() if f not in picked},
        )


def _adds(entry: dict) -> dict[str, int]:
    """Relative path → rows of the files a log entry names."""
    return {a["path"]: a["rows"] for a in entry.get("add", [])}


def _partition_values(rel: str) -> tuple[str | None, ...]:
    """A table file's partition values, from its hive-style path relative
    to the table dir; Spark writes a NULL or empty value as the default
    partition."""
    return tuple(
        None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v)
        for v in (d.split("=", 1)[1] for d in rel.split("/")[:-1])
    )


def scd2_from_history(
    df: DataFrame,
    keys: Sequence[str],
    sequence_by: str,
    tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """Build an SCD Type 2 version table from a change history.

    The DLT API the reference uses (`dlt.create_auto_cdc_flow`,
    `dlt_bronze_to_silver_pipeline.py:30-36`) accepts
    ``stored_as_scd_type=2``; the reference only exercises type 1, so this
    is the engine's coverage of the other half of that API surface, with
    DLT's column convention: each output row is one version of a key with
    ``__START_AT`` (the sequence value that opened it) and ``__END_AT``
    (the sequence value that superseded it; NULL for the current version).

    Semantics: per key, order changes by the sequence column; ties are
    resolved to one row by ``tiebreakers`` (latest wins); consecutive
    changes with identical attribute state collapse into one version
    (no-op updates do not open versions). Deterministic given a unique
    (keys, sequence_by, tiebreakers) ordering.

    Scale notes: ONE shuffle on the business key — the tie-dedup lag,
    the change-detection lag and the closing lead all run over the same
    (partitionBy=keys, orderBy=seq…) sort, so Catalyst plans a single
    exchange+sort for the whole build. Until r10 the tie-dedup was a
    `latest_by_key` window partitioned by (keys, seq) — a SECOND hash
    exchange on a different key that the (keys)-window then re-shuffled
    (2 Exchange / 2 Sort, confirmed in
    plans/r10/cdc_scd2_history_before.txt); sorting by
    (seq asc, tiebreakers desc) instead makes the first row of every
    seq-run exactly the row_number()=1 winner of the old window, and the
    downstream windows' (seq asc) requirement is prefix-satisfied by the
    same sort.
    """
    keys = list(keys)
    attrs = [c for c in df.columns if c not in {*keys, sequence_by, *tiebreakers}]
    # resolve sequence ties to one change (latest tiebreaker wins)
    if tiebreakers:
        ws = Window.partitionBy(*keys).orderBy(
            F.col(sequence_by).asc(),
            *[F.col(t).desc_nulls_last() for t in tiebreakers],
        )
        # first row of each seq run == latest_by_key's winner (the old
        # (keys, seq)-window ordered tiebreakers desc_nulls_last; this
        # sort puts that row first within the run); detected with one
        # lag over the SAME exchange+sort the change/close windows reuse
        df = (
            df.withColumn(
                "__dup",
                F.lag(sequence_by).over(ws).eqNullSafe(F.col(sequence_by)),
            )
            .filter(~F.col("__dup"))
            .drop("__dup")
        )
    else:
        df = df.dropDuplicates([*keys, sequence_by])
    df = df.select(*keys, sequence_by, *attrs)
    w = Window.partitionBy(*keys).orderBy(F.col(sequence_by).asc())
    state = F.struct(*[F.col(c) for c in attrs])
    changed = ~F.lag(state).over(w).eqNullSafe(state)  # null lag → first row → True
    versions = df.withColumn("__chg", changed).filter(F.col("__chg")).drop("__chg")
    return versions.select(
        *keys,
        *attrs,
        F.col(sequence_by).alias("__START_AT"),
        F.lead(sequence_by).over(w).alias("__END_AT"),
    )


def scd2_apply(
    table: "ManagedParquetTable",
    updates: DataFrame,
    keys: Sequence[str],
    sequence_by: str,
    tiebreakers: Sequence[str] = (),
) -> None:
    """Incremental SCD Type 2 upsert into a managed version table.

    Existing versions are re-interpreted as change events at their
    ``__START_AT`` sequence and unioned with the new updates, then the
    history is rebuilt with :func:`scd2_from_history`. A version table
    encodes the boundaries of its own change history (END_AT is always
    the next version's START_AT), so this reproduces the one-shot build
    exactly whenever late changes land BETWEEN surviving version
    boundaries — true retro-insertion, which a close-and-append merge
    cannot do. The one irrecoverable case: a late change that lands
    INSIDE an already-collapsed same-value run (the interior change
    rows were no-ops and were not stored, so the run cannot re-open
    after the insertion). With micro-batches arriving in event-time
    order — the production file-ingest arrival pattern — that case
    cannot occur and streamed == one-shot exactly
    (tests/test_streaming.py); under arbitrary shuffling of history it
    is the documented divergence.

    A batch row beats a replayed version at the same sequence (tag 1
    over 0, as an update wins a tie in `merge_upsert_plan`); the batch's
    own ties resolve by ``tiebreakers``, as in the one-shot build. The
    versions keep no tiebreaker, so one more arrival order diverges: a
    tie whose LATER row has the SMALLER tiebreaker keeps the later row
    here and the stored one in the one-shot build. The commit is
    conditional on the version read, so a commit landing in between
    raises :class:`ConcurrentWriteError`.

    Scale notes: rewrite cost is one shuffle over (current table +
    batch), the same cost class as Delta MERGE on an unpartitioned
    table; partition the table on a key-derived column to bound it.
    """
    version = table.version()
    if table.exists():
        existing = table.read()
        attrs = [c for c in existing.columns
                 if c not in {*keys, "__START_AT", "__END_AT", *tiebreakers}]
        replay = existing.select(
            *keys, F.col("__START_AT").alias(sequence_by), *attrs,
            F.lit(0).alias(_SRC),
            *[F.lit(None).cast(updates.schema[t].dataType).alias(t)
              for t in tiebreakers],
        )
        updates = replay.unionByName(updates.select(
            *keys, sequence_by, *attrs, F.lit(1).alias(_SRC), *tiebreakers
        ))
        tiebreakers = [_SRC, *tiebreakers]
    history = scd2_from_history(updates, keys, sequence_by, tiebreakers)
    table.overwrite(history, expect_version=version)


def table_changes(
    old: DataFrame, new: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Change Data Feed between two keyed table states (reference T10:
    `README.md:91` names Delta CDF as the alternative CDC source; this is
    its engine-side analogue over any two versions, e.g. from
    ``ManagedParquetTable.read(version=...)`` time travel).

    Emits one row per change with ``_change_type`` ∈ {insert, delete,
    update_preimage, update_postimage}; unchanged keys emit nothing.
    Null-safe struct comparison, so NULL attribute flips are detected.

    Scale notes: one full-outer shuffle join on the key (broadcast if one
    side is small under AQE); classification + the pre/post fan-out run
    inside the same stage via array+explode — no second scan.
    """
    keys = list(keys)
    attrs = [c for c in new.columns if c not in keys]
    o = old.select(*keys, F.struct(*attrs).alias("__o"))
    n = new.select(*keys, F.struct(*attrs).alias("__n"))
    j = o.join(n, keys, "full_outer")
    oc, nc = F.col("__o"), F.col("__n")

    def tagged(state, kind: str):
        return F.struct(state.alias("state"), F.lit(kind).alias("_change_type"))

    change = F.explode(
        F.when(oc.isNull(), F.array(tagged(nc, "insert")))
        .when(nc.isNull(), F.array(tagged(oc, "delete")))
        .when(
            ~oc.eqNullSafe(nc),
            F.array(tagged(oc, "update_preimage"), tagged(nc, "update_postimage")),
        )
        .otherwise(F.array())
    ).alias("__c")
    out = j.select(*keys, change)
    return out.select(*keys, "__c.state.*", "__c._change_type")


# ---------------------------------------------------------------------------
# registry queries
# ---------------------------------------------------------------------------


@query(
    "cdc_latest_by_key",
    """
    SELECT event_id, user_id, event_type, ts, value
    FROM (
      SELECT event_id, user_id, event_type, ts, value,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
             ) AS rn
      FROM events
    ) t WHERE rn = 1
    """,
)
def cdc_latest_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest event per user — the APPLY CHANGES dedup step (W1) run as a
    batch query with event_id as the deterministic tiebreaker."""
    ev = read_table(spark, sf_dir, "events")
    return latest_by_key(
        ev.select("event_id", "user_id", "event_type", "ts", "value"),
        ["user_id"],
        ["ts"],
        ["event_id"],
    )


@query(
    "cdc_merge_upsert",
    """
    SELECT user_id, event_type, ts, value
    FROM (
      SELECT user_id, event_type, ts, value,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
             ) AS rn
      FROM events
    ) t WHERE rn = 1
    """,
)
def cdc_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end MERGE emulation, oracle-checked: build a target from the
    first half of the event stream (by ts), upsert the second half, and
    return the final state — which must equal latest-per-key over the whole
    stream. Exercises insert + update + latest-wins paths in one query.
    """
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    cutoff = ev.agg(F.percentile_approx("ts", 0.5).alias("c")).collect()[0][0]
    base = ev.filter(F.col("ts") <= F.lit(cutoff))
    late = ev.filter(F.col("ts") > F.lit(cutoff))
    target = latest_by_key(base, ["user_id"], ["ts"], ["event_id"])
    # one upsert of all late-arriving changes; event_id not part of the
    # sequence → drop it for a pure attribute-comparison on the oracle side
    merged = merge_upsert_plan(target, latest_by_key(late, ["user_id"], ["ts"], ["event_id"]),
                               ["user_id"], "ts")
    return merged.select("user_id", "event_type", "ts", "value")


@query(
    "cdc_merge_upsert_deletes",
    """
    SELECT user_id, event_type, ts, value
    FROM (
      SELECT user_id, event_type, ts, value,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
             ) AS rn
      FROM events
    ) t WHERE rn = 1 AND event_type <> 'error'
    """,
)
def cdc_merge_upsert_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE with apply-as-deletes, oracle-checked: 'error' events are
    delete markers. Target is built from the first half of the stream,
    the second half is merged on top — the final state must equal
    latest-per-key over the WHOLE stream minus keys whose latest change
    is a delete, which is exactly what the oracle computes."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    is_del = (F.col("event_type") == "error").alias("__is_delete")
    cutoff = ev.agg(F.percentile_approx("ts", 0.5).alias("c")).collect()[0][0]
    base = ev.filter(F.col("ts") <= F.lit(cutoff)).withColumn("__is_delete", is_del)
    late = ev.filter(F.col("ts") > F.lit(cutoff)).withColumn("__is_delete", is_del)
    target_tbl = latest_by_key(base, ["user_id"], ["ts"], ["event_id"])
    target = target_tbl.filter(~F.col("__is_delete")).drop("__is_delete")
    merged = merge_upsert_plan(
        target,
        latest_by_key(late, ["user_id"], ["ts"], ["event_id"]),
        ["user_id"],
        "ts",
        delete_col="__is_delete",
    )
    return merged.select("user_id", "event_type", "ts", "value")


@query(
    "cdc_scd2_history",
    """
    WITH dedup AS (
      SELECT user_id, ts, event_type FROM (
        SELECT user_id, ts, event_type,
               ROW_NUMBER() OVER (
                 PARTITION BY user_id, ts ORDER BY event_id DESC
               ) AS rn
        FROM events
      ) t WHERE rn = 1
    ), flagged AS (
      SELECT user_id, ts, event_type,
             LAG(event_type) OVER w IS DISTINCT FROM event_type AS chg
      FROM dedup
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    )
    SELECT user_id, event_type,
           ts AS start_at,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts) AS end_at
    FROM flagged WHERE chg
    """,
)
def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 2 version table built from the event change history: one
    row per (user, contiguous event_type run) with validity interval.
    The DLT surface's ``stored_as_scd_type=2`` path (reference API
    `dlt_bronze_to_silver_pipeline.py:35` passes 1; 2 is the other
    documented value)."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    hist = scd2_from_history(ev, ["user_id"], "ts", tiebreakers=["event_id"])
    return hist.select(
        "user_id",
        "event_type",
        F.col("__START_AT").alias("start_at"),
        F.col("__END_AT").alias("end_at"),
    )


@query(
    "cdc_changes_feed",
    """
    WITH ranked AS (
      SELECT event_id, user_id, event_type, ts, value,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
             ) AS rn
      FROM events
    ), new_state AS (
      SELECT user_id, event_type, ts, value FROM ranked
      WHERE rn = 1 AND event_type <> 'error'
    ), half AS (
      SELECT event_id, user_id, event_type, ts, value,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
             ) AS rn
      FROM events
      WHERE event_id <= (SELECT MAX(event_id) // 2 FROM events)
    ), old_state AS (
      SELECT user_id, event_type, ts, value FROM half WHERE rn = 1
    ), j AS (
      SELECT COALESCE(o.user_id, n.user_id) AS user_id,
             o.user_id IS NOT NULL AS has_o, n.user_id IS NOT NULL AS has_n,
             o.event_type AS oet, o.ts AS ots, o.value AS ov,
             n.event_type AS net, n.ts AS nts, n.value AS nv
      FROM old_state o FULL OUTER JOIN new_state n ON o.user_id = n.user_id
    )
    SELECT user_id, net AS event_type, nts AS ts, nv AS value,
           'insert' AS _change_type
    FROM j WHERE NOT has_o
    UNION ALL
    SELECT user_id, oet, ots, ov, 'delete' FROM j WHERE NOT has_n
    UNION ALL
    SELECT user_id, oet, ots, ov, 'update_preimage' FROM j
    WHERE has_o AND has_n AND (oet, ots, ov) IS DISTINCT FROM (net, nts, nv)
    UNION ALL
    SELECT user_id, net, nts, nv, 'update_postimage' FROM j
    WHERE has_o AND has_n AND (oet, ots, ov) IS DISTINCT FROM (net, nts, nv)
    """,
)
def cdc_changes_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change Data Feed between two table versions (reference T10). The
    old version is latest-per-user over the first half of the stream; the
    new version is latest-per-user over the whole stream minus users whose
    final event is an 'error' (so all four change types occur: second-half
    users insert, changed users update pre+post, error-final users
    delete)."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    cutoff = ev.agg((F.max("event_id") / F.lit(2)).cast("long").alias("c")).collect()[0][0]
    old = latest_by_key(
        ev.filter(F.col("event_id") <= F.lit(cutoff)), ["user_id"], ["ts"], ["event_id"]
    ).select("user_id", "event_type", "ts", "value")
    new = (
        latest_by_key(ev, ["user_id"], ["ts"], ["event_id"])
        .filter(F.col("event_type") != "error")
        .select("user_id", "event_type", "ts", "value")
    )
    return table_changes(old, new, ["user_id"])


def delete_where(table: "ManagedParquetTable", condition) -> int:
    """DELETE FROM emulation: atomically rewrite the table without rows
    matching ``condition`` (SQL string or Column); returns rows deleted,
    counted by one aggregate. The right-to-be-forgotten/GDPR primitive —
    follow it with ``vacuum(0)`` so purged rows leave no recoverable
    version. On a partitioned table Catalyst prunes the scan, but the
    rewrite here is whole-table; a production variant rewrites only the
    affected partitions' files (the pruned MERGE's carry-over). The
    commit is conditional on the version read, so a commit landing in
    between raises :class:`ConcurrentWriteError`."""
    cond = F.expr(condition) if isinstance(condition, str) else condition
    hit = F.coalesce(cond, F.lit(False))
    version = table.version()
    df = table.read()
    n_deleted = df.agg(F.count_if(hit)).collect()[0][0]
    if n_deleted:
        table.overwrite(df.filter(~hit), expect_version=version)
    return n_deleted


def publish_atomically(
    writes: Sequence[tuple["ManagedParquetTable", DataFrame]],
) -> None:
    """Two-phase multi-table publish through each table's commit
    protocol. PREPARE stages every DataFrame (`_stage`: the expensive,
    failure-prone phase — any error removes the stages already written
    and aborts with all tables untouched), then COMMIT publishes each
    stage through the table's one publish path (`_publish`: commit lock,
    file moves, log-entry create, post-commit vacuum). Readers can
    observe a brief window where early tables show the new version and
    later ones the old (commit-speed, not write-speed) — each table has
    its own log, so this is the practical cross-table guarantee, and why
    Delta/Iceberg keep multi-table transactions out of scope too."""
    staged: list[tuple[ManagedParquetTable, str]] = []
    try:
        for table, df in writes:
            staged.append((table, table._stage(df)))
    except BaseException:
        for _, tmp in staged:
            shutil.rmtree(tmp, ignore_errors=True)
        raise
    for table, tmp in staged:
        table._publish(tmp, None)


def snapshot_as_of(history: DataFrame, sequence_value) -> DataFrame:
    """Point-in-time state from an SCD2 version table: the rows whose
    validity interval covers ``sequence_value`` (``__START_AT <= v <
    __END_AT``, open-ended current versions included) with the validity
    columns dropped — Delta/Iceberg ``AS OF`` semantics over the
    engine's version tables. Pure filter → partition-prunable when the
    history is partitioned on a __START_AT-derived column."""
    v = F.lit(sequence_value)
    return history.filter(
        (F.col("__START_AT") <= v)
        & (F.col("__END_AT").isNull() | (F.col("__END_AT") > v))
    ).drop("__START_AT", "__END_AT")


@query(
    "cdc_scd2_snapshot_asof",
    """
    WITH cutoff AS (
      SELECT MAX(ts) AS c FROM events WHERE event_id <= 5000
    )
    SELECT user_id, event_type
    FROM (
      SELECT user_id, event_type, ts,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
             ) AS rn
      FROM events, cutoff WHERE ts <= cutoff.c
    ) t WHERE rn = 1
    """,
)
def cdc_scd2_snapshot_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF temporal query: build the SCD2 history of user event_type
    changes, then reconstruct the state as of a historical sequence value
    — which must equal latest-per-key over the raw events up to that
    point (the oracle computes it that way, independently of the version
    table). Proves interval chaining end-to-end: any gap or overlap in
    __START_AT/__END_AT would surface as a missing or duplicated user."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    cutoff = (
        ev.filter(F.col("event_id") <= 5000).agg(F.max("ts").alias("c")).collect()[0]["c"]
    )
    hist = scd2_from_history(ev, ["user_id"], "ts", tiebreakers=["event_id"])
    return snapshot_as_of(hist, cutoff).select("user_id", "event_type")


def scd2_from_snapshots(
    snapshots: Sequence[tuple[int, DataFrame]], keys: Sequence[str]
) -> DataFrame:
    """SCD Type 2 history from successive FULL table snapshots — the
    engine analogue of DLT ``create_auto_cdc_from_snapshot_flow``
    (``apply_changes_from_snapshot``): no change feed exists, so changes
    are INFERRED by diffing consecutive snapshots (``table_changes``),
    then folded into validity intervals in ONE window pass per key:
    every surviving (insert/update) change opens a version at its
    snapshot id; ``lead()`` over the per-key change sequence closes it at
    the NEXT change — so a disappeared key's delete closes its last
    version without emitting a row, and a later re-insert opens a fresh
    interval. ``__END_AT`` NULL marks the open version.

    Scale notes: cost is one keyed full-outer join per snapshot pair
    (exactly what any snapshot-diff must pay) + one window shuffle over
    the CHANGE rows only — never over unchanged snapshot mass."""
    keys = list(keys)
    all_events: DataFrame | None = None
    prev: DataFrame | None = None
    for ver, snap in sorted(snapshots, key=lambda p: p[0]):
        base = prev if prev is not None else snap.limit(0)
        ch = table_changes(base, snap, keys).filter(
            F.col("_change_type") != "update_preimage"
        )
        ev = ch.withColumn("__v", F.lit(int(ver)))
        all_events = ev if all_events is None else all_events.unionByName(ev)
        prev = snap
    assert all_events is not None, "need at least one snapshot"
    return scd2_intervals(all_events, keys)


def scd2_intervals(events: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Fold change events (``table_changes`` rows without preimages,
    stamped with their snapshot id ``__v``) into SCD2 validity intervals:
    per key, each event opens a version at ``__v`` that the next event
    closes (``lead``), and delete events, which only close, are dropped.
    One window shuffle over the events."""
    keys = list(keys)
    w = Window.partitionBy(*keys).orderBy("__v")
    attrs = [c for c in events.columns if c not in (*keys, "_change_type", "__v")]
    return (
        events.withColumn("__END_AT", F.lead("__v").over(w))
        .filter(F.col("_change_type") != "delete")
        .select(
            *keys,
            *attrs,
            F.col("__v").alias("__START_AT"),
            "__END_AT",
        )
    )


@query(
    "cdc_scd2_from_snapshots",
    """
    WITH base AS (
      SELECT c_custkey AS k, CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer
    ), s1 AS (
      SELECT k, cents FROM base WHERE k < 300
    ), s2 AS (
      SELECT k, CASE WHEN k % 7 = 0 THEN cents + 1000 ELSE cents END AS cents
      FROM base WHERE k < 350
    ), ev AS (
      SELECT k, cents, 1 AS v, FALSE AS is_del FROM s1
      UNION ALL
      SELECT s2.k, s2.cents, 2, FALSE
      FROM s2 LEFT JOIN s1 USING (k)
      WHERE s1.k IS NULL OR s1.cents <> s2.cents
      UNION ALL
      SELECT k, cents, 3, TRUE FROM s2 WHERE k % 5 = 0
    ), iv AS (
      SELECT k, cents, is_del, v,
             LEAD(v) OVER (PARTITION BY k ORDER BY v) AS end_at
      FROM ev
    )
    SELECT k, cents, v AS start_at, end_at
    FROM iv WHERE NOT is_del
    """,
)
def cdc_scd2_from_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DLT ``create_auto_cdc_from_snapshot_flow`` analogue: three FULL
    snapshots of a customer slice (initial load → wider slice with some
    balances changed → some keys gone) folded into SCD2 validity
    intervals by snapshot-diff CDC. Deletes close the last version
    without emitting a row; money is integer cents so the diff is exact
    in both engines."""
    cu = read_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    base = cu.select(k.alias("k"), cents.alias("cents"))
    s1 = base.filter(F.col("k") < 300)
    s2 = base.filter(F.col("k") < 350).select(
        "k",
        F.when(F.col("k") % 7 == 0, F.col("cents") + 1000)
        .otherwise(F.col("cents"))
        .alias("cents"),
    )
    s3 = s2.filter(F.col("k") % 5 != 0)
    hist = scd2_from_snapshots([(1, s1), (2, s2), (3, s3)], ["k"])
    return hist.select(
        "k", "cents",
        F.col("__START_AT").alias("start_at"),
        F.col("__END_AT").alias("end_at"),
    )


@query(
    "cdc_table_optimize",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum,
           TRUE AS files_reduced,
           TRUE AS content_preserved
    FROM orders
    """,
)
def cdc_table_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta ``OPTIMIZE`` end-to-end through the managed table: create
    from one quarter of ``orders``, append the other three quarters as
    separate commits (accumulating small files — the append-heavy
    degradation OPTIMIZE exists for), then compact with
    :meth:`ManagedParquetTable.optimize` under an OCC-conditional
    commit.

    Contract oracle (the sketch-query pattern): the exact row count and
    orderkey checksum AFTER compaction must equal the source table's —
    DuckDB computes both from the parquet directly — and two invariant
    flags must hold: ``files_reduced`` (live data file count strictly
    dropped) and ``content_preserved`` (pre- vs post-compaction count
    and checksum identical). File counts themselves are
    environment-dependent, so they assert as a flag, not a value.

    Scale notes: compaction is a ``coalesce`` rewrite — no shuffle, each
    output bin streams its input files; at 100 TB run it per partition
    (the table's ``partition_by`` dirs) so only append-churned
    partitions rewrite."""
    import os as _os

    from databricks_end_to_end_lakeflow_project_spark.sources.scratch import (
        ephemeral_dir,
    )

    od = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    t = ManagedParquetTable(spark, _os.path.join(ephemeral_dir("optimize_tbl_"), "t"))
    for i in range(4):
        part = od.filter(F.col("o_orderkey") % 4 == i)
        if i == 0:
            t.overwrite(part)
        else:
            t.append(part)

    def checksum():
        row = t.read().agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("o_orderkey").cast("long").alias("s"),
        ).collect()[0]
        return row["n"], row["s"]

    files_before = len(t.files())
    pre = checksum()
    t.optimize(target_rows_per_file=1_000_000, expect_version=t.version())
    files_after = len(t.files())
    post = checksum()
    return spark.createDataFrame(
        [(post[0], post[1], files_after < files_before, pre == post)],
        "n_rows long, key_checksum long, files_reduced boolean, content_preserved boolean",
    )


@query(
    "cdc_table_ttl_purge",
    """
    SELECT CAST(COUNT(*) FILTER (WHERE o_orderdate >= DATE '1996-01-01')
                AS BIGINT) AS n_retained,
           CAST(COUNT(*) FILTER (WHERE o_orderdate < DATE '1996-01-01')
                AS BIGINT) AS n_purged,
           CAST(SUM(o_orderkey) FILTER (WHERE o_orderdate >= DATE '1996-01-01')
                AS BIGINT) AS retained_checksum,
           TRUE AS purged_unrecoverable
    FROM orders
    """,
)
def cdc_table_ttl_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention-policy purge end-to-end (`DELETE FROM ... WHERE age >
    ttl` — the GDPR/TTL primitive): a managed table is built from
    ``orders``, rows older than the 1996-01-01 cutoff are deleted via
    :func:`delete_where`, and the history is vacuumed so the purged
    rows leave NO recoverable version (the compliance requirement that
    distinguishes purge from ordinary delete).

    Contract oracle: the retained count/checksum must equal what DuckDB
    computes from the cutoff directly; ``n_purged`` is the operator's
    own deletion report; ``purged_unrecoverable`` asserts the table has
    zero retained versions, no purged row, AND no data file on disk
    beyond the current version's (a replaced file would still hold the
    purged rows). Scale: delete_where is one filtered rewrite commit —
    on a date-partitioned table the scan prunes to affected partitions."""
    import os as _os

    from databricks_end_to_end_lakeflow_project_spark.sources.scratch import (
        ephemeral_dir,
    )

    od = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    t = ManagedParquetTable(
        spark, _os.path.join(ephemeral_dir("ttl_tbl_"), "t"), retain_versions=2
    )
    t.overwrite(od)
    n_purged = delete_where(t, "o_orderdate < DATE '1996-01-01'")
    t.vacuum(retain_last=0)
    row = t.read().agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("o_orderkey").cast("long").alias("s"),
        F.max(F.col("o_orderdate") < F.lit("1996-01-01").cast("date")).alias(
            "any_old"
        ),
    ).collect()[0]
    on_disk = []
    for root, dirs, names in _os.walk(t.path):
        dirs[:] = [d for d in dirs if d != "_log"]
        on_disk += [_os.path.join(root, f) for f in names]
    unrecoverable = (
        t.history() == [] and not row["any_old"] and sorted(on_disk) == t.files()
    )
    return spark.createDataFrame(
        [(row["n"], n_purged, row["s"], unrecoverable)],
        "n_retained long, n_purged long, retained_checksum long, "
        "purged_unrecoverable boolean",
    )


@query(
    "cdc_merge_upsert_pruned",
    """
    WITH base AS (
      SELECT o_orderkey, strftime(o_orderdate, '%Y-%m') AS o_month,
             o_orderpriority
      FROM orders
    ), tm AS (
      SELECT MAX(o_month) AS m FROM base
    )
    SELECT o_orderkey, o_month,
           CASE WHEN o_month = (SELECT m FROM tm)
                THEN 'U-' || o_orderpriority
                ELSE o_orderpriority END AS o_orderpriority
    FROM base
    WHERE o_orderkey % 5 <> 0 OR o_month = (SELECT m FROM tm)
    ORDER BY o_orderkey, o_month
    """,
)
def cdc_merge_upsert_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned fact MERGE end-to-end — the `plans/gold.py`
    "partition the fact target by a date column for pruned rewrites"
    claim exercised through a real date-partitioned
    :class:`ManagedParquetTable` (reference S8/`FACT_Gold_Layer.py:182-192`,
    the MERGE-at-scale shape: grain includes the date, so the partition
    column is part of the merge key and a one-month update batch rewrites
    exactly one partition directory — `tests/test_cdc.py` pins the
    file-level pruning, this query pins the merged VALUES).

    Setup: a table over (o_orderkey, o_month, o_orderpriority)
    partitioned by order month, seeded with keys where ``o_orderkey % 5
    != 0``. The updates batch is the LAST month's full slice with
    priorities rewritten to ``U-<priority>`` — so the merge must update
    that month's existing keys, insert its held-out ``% 5 == 0`` keys,
    and leave every other month byte-untouched. The oracle recomputes
    the expected final state from ``orders`` directly."""
    import os as _os

    from databricks_end_to_end_lakeflow_project_spark.sources.scratch import (
        ephemeral_dir,
    )

    od = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM").alias("o_month"),
        "o_orderpriority",
    )
    target_month = od.agg(F.max("o_month")).collect()[0][0]
    t = ManagedParquetTable(
        spark,
        _os.path.join(ephemeral_dir("pruned_merge_tbl_"), "t"),
        keys=["o_month", "o_orderkey"],
        partition_by=["o_month"],
    )
    t.overwrite(od.filter(F.col("o_orderkey") % 5 != 0))
    updates = od.filter(F.col("o_month") == target_month).withColumn(
        "o_orderpriority", F.concat(F.lit("U-"), F.col("o_orderpriority"))
    )
    t.upsert(updates)
    return (
        t.read()
        .select("o_orderkey", "o_month", "o_orderpriority")
        .orderBy("o_orderkey", "o_month")
    )


# ---------------------------------------------------------------------------
# round-6 addition (session 2): deletion-vector emulation (DELETE w/o rewrite)
# ---------------------------------------------------------------------------


@query(
    "cdc_deletion_vectors",
    """
    WITH visible AS (
      SELECT * FROM customer
      WHERE NOT (c_acctbal < 0) AND NOT (c_mktsegment = 'BUILDING')
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_visible,
           CAST(SUM(c_custkey) AS BIGINT) AS key_checksum,
           CAST((SELECT COUNT(*) FROM customer) - COUNT(*) AS BIGINT)
             AS n_dv_entries,
           TRUE AS files_untouched
    FROM visible
    """,
)
def cdc_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-vector DELETE — Delta Lake's modern delete path
    (`delta.enableDeletionVectors`): instead of rewriting every file
    that contains a matching row (the copy-on-write `delete_where`
    above), record the (file, row-position) of deleted rows in a
    sidecar and have the READ path subtract them — merge-on-read. Two
    successive DELETEs (negative balances, then the BUILDING segment)
    accumulate into one DV sidecar; the data files are never touched.

    Spark mechanics: row positions come from the hidden
    ``_metadata.file_path`` / ``_metadata.row_index`` columns of the
    parquet scan (public Spark 3.5+ API — the same row-tracking
    primitive Delta's DV implementation reads); the serve path is a
    LEFT ANTI join of the scan against the broadcast DV sidecar on
    (file, position). At 100 TB the DV is MBs against TBs of data —
    broadcast, never shuffled — and a periodic OPTIMIZE (the
    `cdc_table_optimize` path) folds mature DVs back into rewritten
    files.

    Contract oracle: visible row count + key checksum must equal
    DuckDB's direct predicate evaluation; ``n_dv_entries`` must equal
    exactly the deleted-row count; ``files_untouched`` asserts the data
    files' (name, size) inventory is byte-identical across both
    DELETEs.
    """
    import os as _os

    from databricks_end_to_end_lakeflow_project_spark.sources.scratch import (
        ephemeral_dir,
    )

    cu = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    path = _os.path.join(ephemeral_dir("dv_tbl_"), "t")
    cu.repartition(4).write.mode("overwrite").parquet(path)

    def inventory() -> list[tuple[str, int]]:
        out = []
        for root, _dirs, files in _os.walk(path):
            for f in files:
                if not f.startswith(("_", ".")):
                    fp = _os.path.join(root, f)
                    out.append((fp, _os.path.getsize(fp)))
        return sorted(out)

    inv0 = inventory()
    scan = read_spark_parquet(spark, path).select(
        "*",
        F.col("_metadata.file_path").alias("__file"),
        F.col("_metadata.row_index").alias("__pos"),
    )

    dv: DataFrame | None = None  # the sidecar: (file, position) pairs

    def visible() -> DataFrame:
        if dv is None:
            return scan
        return scan.join(
            F.broadcast(dv),
            (scan["__file"] == dv["file"]) & (scan["__pos"] == dv["pos"]),
            "left_anti",
        )

    def delete_where(cond) -> DataFrame:
        hit = visible().filter(cond).select(
            F.col("__file").alias("file"), F.col("__pos").alias("pos")
        )
        return hit if dv is None else dv.unionByName(hit)

    # DELETE #1: negative balances; DELETE #2: BUILDING segment (of the
    # rows still visible — a DV DELETE must not double-count).
    dv = delete_where(F.col("c_acctbal") < 0).localCheckpoint(eager=True)
    dv = delete_where(F.col("c_mktsegment") == "BUILDING").localCheckpoint(eager=True)

    files_untouched = inventory() == inv0
    n_dv = dv.count()
    return visible().agg(
        F.count(F.lit(1)).alias("n_visible"),
        F.sum("c_custkey").alias("key_checksum"),
        F.lit(n_dv).cast("long").alias("n_dv_entries"),
        F.lit(bool(files_untouched)).alias("files_untouched"),
    )


@query(
    "cdc_merge_schema_evolution",
    """
    WITH base AS (
      SELECT c_custkey, c_name, c_acctbal FROM customer
    ),
    evolved AS (
      SELECT c_custkey, c_name,
             ROUND(c_acctbal + 50.0, 2) AS c_acctbal,
             c_mktsegment AS segment
      FROM customer WHERE c_custkey % 4 = 0
    ),
    merged AS (
      SELECT b.c_custkey,
             COALESCE(e.c_name, b.c_name) AS c_name,
             COALESCE(e.c_acctbal, b.c_acctbal) AS c_acctbal,
             e.segment
      FROM base b LEFT JOIN evolved e ON e.c_custkey = b.c_custkey
    )
    SELECT COUNT(*) AS n_rows,
           COUNT(segment) AS n_with_new_col,
           ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2)::DOUBLE
             AS sum_acctbal
    FROM merged
    """,
)
def cdc_merge_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE with automatic schema evolution — Delta's
    ``spark.databricks.delta.schema.autoMerge`` behavior on the managed
    table: the update batch carries a column the target lacks
    (``segment``) plus re-priced balances for every 4th customer; after
    ``upsert(merge_schema=True)`` the table has the widened schema with
    NULLs on untouched rows and latest-wins values on touched ones.
    The oracle recomputes the expected final state as a LEFT JOIN
    against the evolved batch.

    Scale notes: schema widening forces the full-table rewrite path
    (a row's width changes, so partition pruning's never-moves
    precondition is moot — same trade real Delta makes: autoMerge
    commits rewrite the touched files with the union schema). Contract
    aggregate: row count, new-column coverage, exact-decimal balance
    checksum.
    """
    import os as _os

    from databricks_end_to_end_lakeflow_project_spark.sources.scratch import (
        ephemeral_dir,
    )

    cu = read_table(spark, sf_dir, "customer")
    base = cu.select("c_custkey", "c_name", "c_acctbal")
    evolved = cu.filter(F.col("c_custkey") % 4 == 0).select(
        "c_custkey",
        "c_name",
        F.round(F.col("c_acctbal") + 50.0, 2).alias("c_acctbal"),
        F.col("c_mktsegment").alias("segment"),
    )
    t = ManagedParquetTable(
        spark, _os.path.join(ephemeral_dir("schema_evo_"), "t"), keys=["c_custkey"]
    )
    t.overwrite(base)
    t.upsert(evolved, merge_schema=True)
    out = t.read()
    return out.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("segment").alias("n_with_new_col"),
        F.round(F.sum(F.col("c_acctbal").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("sum_acctbal"),
    )


# ---------------------------------------------------------------------------
# round-7 addition: Write-Audit-Publish (WAP)
# ---------------------------------------------------------------------------


@query(
    "cdc_write_audit_publish",
    """
    WITH batch AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 70 = 0 THEN -o_totalprice
                  ELSE o_totalprice END AS o_totalprice,
             CASE WHEN o_orderkey % 140 = 0 THEN NULL
                  ELSE o_custkey END AS o_custkey
      FROM orders WHERE o_orderkey % 7 = 0
    ),
    audit AS (
      SELECT *,
             (o_custkey IS NOT NULL) AND (o_totalprice > 0) AS ok
      FROM batch
    )
    SELECT CAST((SELECT COUNT(*) FROM audit) AS BIGINT) AS n_staged,
           CAST(COUNT(*) FILTER (WHERE ok) AS BIGINT) AS n_published,
           CAST(COUNT(*) FILTER (WHERE NOT ok) AS BIGINT) AS n_quarantined,
           CAST(SUM(CASE WHEN ok
                    THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) END)
                AS BIGINT) AS published_cents,
           CAST(SUM(CASE WHEN ok THEN o_orderkey END) AS BIGINT)
             AS published_key_checksum
    FROM audit
    """,
)
def cdc_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-Audit-Publish (the Iceberg/Netflix WAP pattern) end to end
    through the managed-table commit protocol: STAGE an incoming batch
    (a deterministic 1-in-7 orders sample with 1-in-70 corrupted prices
    and 1-in-140 nulled keys injected) into a staging table, AUDIT it
    with DLT-style expectations (non-null key, positive total), PUBLISH
    only passing rows to the target as one atomic commit and quarantine
    the rest — then report the staged/published/quarantined counts plus
    the published value checksum, all read back FROM THE TABLES (the
    oracle recomputes them from the source, so the whole
    stage→audit→publish→read path is value-verified).

    Scale notes: the audit is one predicate pass over the staged batch
    (no corpus rescan); publish is the table's log-entry commit — the
    same protocol the crash matrix pins
    (tests/test_crash_recovery.py), which is exactly what makes
    audit-then-publish safe: a crash between audit and publish leaves
    the target untouched.
    """
    import os as _os

    from databricks_end_to_end_lakeflow_project_spark.pipeline.expectations import (
        split_expectations,
    )
    from databricks_end_to_end_lakeflow_project_spark.sources.scratch import (
        ephemeral_dir,
    )

    od = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    batch = od.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 70 == 0, -F.col("o_totalprice"))
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        F.when(F.col("o_orderkey") % 140 == 0, F.lit(None).cast("long"))
        .otherwise(F.col("o_custkey"))
        .alias("o_custkey"),
    )
    root = ephemeral_dir("wap_")
    staging = ManagedParquetTable(spark, _os.path.join(root, "staging"))
    target = ManagedParquetTable(spark, _os.path.join(root, "target"))
    quarantine = ManagedParquetTable(spark, _os.path.join(root, "quarantine"))
    # WRITE: the batch lands in staging (atomic, but invisible to consumers)
    staging.overwrite(batch)
    # AUDIT: expectations over the staged rows only
    passed, violated = split_expectations(
        staging.read(),
        {
            "valid_custkey": "o_custkey IS NOT NULL",
            "positive_total": "o_totalprice > 0",
        },
        dataset="wap_batch",
    )
    # PUBLISH: one atomic commit per side
    target.overwrite(passed)
    quarantine.overwrite(violated.drop("__failed_rules", "__dataset"))
    pub = target.read().agg(
        F.count(F.lit(1)).alias("n_published"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "published_cents"
        ),
        F.sum("o_orderkey").alias("published_key_checksum"),
    )
    sizes = (
        staging.read()
        .agg(F.count(F.lit(1)).alias("n_staged"))
        .crossJoin(F.broadcast(quarantine.read().agg(F.count(F.lit(1)).alias("n_quarantined"))))
    )
    return sizes.crossJoin(F.broadcast(pub)).select(
        "n_staged",
        "n_published",
        "n_quarantined",
        "published_cents",
        F.col("published_key_checksum").cast("long").alias("published_key_checksum"),
    )


_SNAPSHOT_CHUNK_ROWS = 5_000


@query(
    "cdc_snapshot_chunk_plan",
    f"""
    WITH ranked AS (
      SELECT o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn
      FROM orders
    )
    SELECT (rn - 1) // {_SNAPSHOT_CHUNK_ROWS} AS chunk_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(o_orderkey) AS low_key,
           MAX(o_orderkey) AS high_key,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents_checksum
    FROM ranked GROUP BY chunk_id ORDER BY chunk_id
    """,
)
def cdc_snapshot_chunk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-snapshot chunk plan (the DBZ/Netflix watermark
    algorithm's first half): split the initial snapshot of ``orders``
    into ~{_SNAPSHOT_CHUNK_ROWS}-row key-ordered chunks and emit each
    chunk's key range + row count + integer-cents checksum — the unit
    of work a chunked initial load interleaves with the CDC stream, and
    the manifest that lets a resumed snapshot skip verified chunks
    ([[cdc_changes_feed]] handles the stream side; this plans the
    snapshot side).

    Scale shape: the global key rank comes from the scalerank kernel
    (range-bin + partitioned window — never a single-partition sort);
    chunk aggregates are map-side-combinable on the chunk id. All
    outputs exact integers.
    """
    from databricks_end_to_end_lakeflow_project_spark.operators.scalerank import (
        RankSpec,
        with_global_ranks,
    )

    od = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    ranked, _n = with_global_ranks(
        od, [RankSpec(out="rn", value="o_orderkey", tiebreaks=[], descending=False)]
    )
    return (
        ranked.groupBy(
            ((F.col("rn") - 1) / _SNAPSHOT_CHUNK_ROWS).cast("long").alias("chunk_id")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("o_orderkey").alias("low_key"),
            F.max("o_orderkey").alias("high_key"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents_checksum"),
        )
        .orderBy("chunk_id")
    )
