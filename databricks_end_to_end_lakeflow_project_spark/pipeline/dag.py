"""DLT-style declarative pipeline runtime (batch-incremental execution).

Re-expression of the reference's 9-node DLT pipeline surface
(SURVEY.md §2.8 T5; `dlt_bronze_to_silver_pipeline.py` registers 4
expectation-gated views, 4 streaming tables maintained by SCD1 CDC flows,
and a joined view):

- ``@pipeline.view`` — named transform; may carry expectations.
- ``pipeline.create_streaming_table(name)`` — a managed target table.
- ``pipeline.create_auto_cdc_flow(target, source, keys, sequence_by,
  stored_as_scd_type=1)`` — per-run: dedup source to latest-per-key and
  MERGE into the target (operators/cdc.py kernel).

Execution model: ``run()`` is one `run_graph` over the tasks of
``graph()``. Its first task opens the batch, runs the append flows and
then the snapshot flows in declaration order, and resolves every CDC
flow's source by demand (memoized recursion over ``ctx.read`` calls —
the same dependency discovery trick DLT does statically), gating views
with their expectations as pure plan transformations. Each CDC flow is
then a task of its own, all running at once, and a last task, once the
first and every CDC flow have returned, recomputes the materialized
views and records the run. Expectation counters ride
the writes that consume the gated views (``df.observe``) and are
collected when the run finalizes; a FAIL expectation aborts the
consuming write before its commit point. Each ``run()`` is one
incremental batch: re-running after new source data arrives upserts the
delta (idempotent for unchanged input — the reference's
`trigger(once=True)` job pattern, T1).

Progress (append watermarks, snapshot counters, run ids) lives in the
``txn`` map of the commit that writes the rows it covers
(`ManagedParquetTable.txn`), so a crash keeps both or neither.

Scale notes: views are lazy DataFrames — nothing materializes twice; CDC
flows shuffle once on the business key; targets are ManagedParquetTables
which can be partitioned for pruned rewrites.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable, Mapping, Sequence
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from databricks_end_to_end_lakeflow_project_spark.operators.cdc import (
    ManagedParquetTable,
    scd2_apply,
    scd2_intervals,
    table_changes,
)
from databricks_end_to_end_lakeflow_project_spark.pipeline.expectations import (
    ExpectationResult,
    Policy,
    apply_expectations,
    split_expectations,
)


Task = tuple[Callable[[], object], Sequence[str]]


def run_graph(tasks: Mapping[str, Task]) -> dict[str, object]:
    """Run ``{name: (fn, deps)}``: each ``fn()`` starts on its own thread
    once every task named in its ``deps`` has returned, and the results
    come back by name. The first failure is re-raised once the tasks
    already running have returned; no task starts after it, so none that
    depends on the failed one does. An unknown dependency or a cycle
    raises before any task starts.

    The one scheduler of a medallion run: `Pipeline.graph` gives a
    pipeline run as tasks, and `FlightLakehouse.run_all` adds the bronze
    drains and gold builds around them."""
    pending = {name: set(deps) for name, (_, deps) in tasks.items()}
    for name, deps in pending.items():
        if unknown := deps - pending.keys():
            raise KeyError(f"task {name!r} depends on unknown {sorted(unknown)}")
    left = dict(pending)
    while ready := [n for n, deps in left.items() if deps.isdisjoint(left)]:
        for name in ready:
            del left[name]
    if left:
        raise ValueError(f"cycle among tasks {sorted(left)}")

    results: dict[str, object] = {}
    with ThreadPoolExecutor(max_workers=max(len(tasks), 1)) as pool:
        running = {}
        while pending or running:
            for name in [n for n, deps in pending.items() if deps.issubset(results)]:
                del pending[name]
                running[pool.submit(tasks[name][0])] = name
            done, _ = wait(running, return_when=FIRST_COMPLETED)
            for future in done:
                results[running.pop(future)] = future.result()
    return results


@dataclass
class _View:
    name: str
    fn: Callable[["Pipeline"], DataFrame]
    expectations: dict[str, str] = field(default_factory=dict)
    policy: Policy = Policy.DROP
    quarantine_to: str | None = None


@dataclass
class _AppendFlow:
    target: str
    source: str
    sequence_by: str


def _watermark_lit(saved: dict) -> Column:
    """The literal of a saved append-flow watermark, of the type it was
    saved from (see `Pipeline._run_append_flows`); a value saved without
    a type is a plain JSON value."""
    wm, kind = saved["watermark"], saved.get("type")
    if kind == "timestamp":
        return F.timestamp_micros(F.lit(wm))
    return F.lit(wm) if kind is None else F.lit(wm).cast(kind)


@dataclass
class _SnapshotFlow:
    target: str
    source: str
    keys: list[str]
    stored_as_scd_type: int = 1


@dataclass
class _CdcFlow:
    target: str
    source: str
    keys: list[str]
    sequence_by: str
    stored_as_scd_type: int = 1
    except_columns: list[str] = field(default_factory=list)
    apply_as_deletes: str | None = None
    apply_as_truncates: str | None = None


class Pipeline:
    """Registry + topological executor for a medallion pipeline."""

    def __init__(self, spark: SparkSession, storage_root: str) -> None:
        self.spark = spark
        self.storage_root = storage_root
        self._views: dict[str, _View] = {}
        self._tables: dict[str, ManagedParquetTable] = {}
        self._flows: list[_CdcFlow] = []
        self._append_flows: list[_AppendFlow] = []
        self._snapshot_flows: list[_SnapshotFlow] = []
        self._cache: dict[str, DataFrame] = {}
        self._resolving: list[str] = []
        self.metrics: dict[str, ExpectationResult] = {}
        self._pending_metrics: dict[str, Callable[[], ExpectationResult | None]] = {}
        self._pending_quarantine: dict[str, tuple[str, DataFrame]] = {}
        self._mviews: list[str] = []
        self._run_id = 0
        self._lineage: set[tuple[str, str]] = set()
        self._resolve_lock = threading.RLock()
        self.create_streaming_table(self._EVENT_LOG)

    # -- registration -------------------------------------------------------

    def view(
        self,
        name: str | None = None,
        expectations: dict[str, str] | None = None,
        policy: Policy = Policy.DROP,
        quarantine_to: str | None = None,
    ):
        """Decorator: register a named view. The function receives this
        pipeline and returns a DataFrame (use ``p.read`` inside for
        dependencies — that's how the DAG edges are discovered).

        ``quarantine_to`` names a managed table, declared with the view:
        instead of silently dropping expectation violations, each
        ``run()`` appends them there with ``__failed_rules``/
        ``__dataset``/``__batch_id`` audit columns (the DLT quarantine
        pattern). Requires expectations and a DROP policy."""
        if quarantine_to and policy is not Policy.DROP:
            raise ValueError("quarantine_to requires Policy.DROP")

        def deco(fn: Callable[[Pipeline], DataFrame]):
            vname = name or fn.__name__
            if quarantine_to and not expectations:
                raise ValueError(f"view {vname!r}: quarantine_to without expectations")
            self._views[vname] = _View(
                vname, fn, dict(expectations or {}), policy, quarantine_to
            )
            if quarantine_to and quarantine_to not in self._tables:
                self.create_streaming_table(quarantine_to)
            return fn

        return deco

    def create_streaming_table(
        self,
        name: str,
        partition_by: Sequence[str] | None = None,
    ) -> None:
        """Declare a managed target table (reference S9)."""
        self._tables[name] = ManagedParquetTable(
            self.spark,
            os.path.join(self.storage_root, name),
            partition_by=partition_by,
        )

    def materialized_view(
        self,
        name: str | None = None,
        partition_by: Sequence[str] | None = None,
        expectations: dict[str, str] | None = None,
        policy: Policy = Policy.DROP,
    ):
        """Decorator: register a view that each ``run()`` fully recomputes
        and persists as a managed table (DLT ``@dlt.table`` / materialized
        view — the batch counterpart of a streaming table: correct under
        arbitrary upstream change because it never carries state forward;
        the upsert-based streaming tables handle the incremental path)."""

        def deco(fn: Callable[[Pipeline], DataFrame]):
            vname = name or fn.__name__
            self.view(vname, expectations, policy)(fn)
            self._tables[vname] = ManagedParquetTable(
                self.spark,
                os.path.join(self.storage_root, vname),
                partition_by=partition_by,
            )
            self._mviews.append(vname)
            return fn

        return deco

    def create_auto_cdc_flow(
        self,
        *,
        target: str,
        source: str,
        keys: Sequence[str],
        sequence_by: str,
        stored_as_scd_type: int = 1,
        except_column_list: Sequence[str] = (),
        apply_as_deletes: str | None = None,
        apply_as_truncates: str | None = None,
    ) -> None:
        """Register an APPLY CHANGES edge (reference W1).

        ``stored_as_scd_type=1`` (the reference's setting,
        `dlt_bronze_to_silver_pipeline.py:35`) keeps latest-per-key;
        ``stored_as_scd_type=2`` (the DLT API's other documented value)
        maintains a version table with ``__START_AT``/``__END_AT``
        validity columns (operators/cdc.py ``scd2_apply``).

        ``apply_as_deletes`` names a boolean source column marking delete
        events (the DLT API's parameter of the same name): when the latest
        change for a key is a flagged delete, the key is removed from the
        target. ``apply_as_truncates`` names a boolean column marking
        TRUNCATE directives (full-snapshot reload): target rows and
        same-batch changes older than the truncate's sequence are
        discarded. Both supported for type 1 only."""
        if stored_as_scd_type not in (1, 2):
            raise ValueError("stored_as_scd_type must be 1 or 2")
        if stored_as_scd_type == 2 and (apply_as_deletes or apply_as_truncates):
            raise NotImplementedError(
                "apply_as_deletes/apply_as_truncates require stored_as_scd_type=1"
            )
        if target not in self._tables:
            raise KeyError(f"unknown streaming table {target!r}; declare it first")
        if any(f.target == target for f in self._flows):
            raise ValueError(f"streaming table {target!r} already has a CDC flow")
        self._flows.append(
            _CdcFlow(target, source, list(keys), sequence_by, stored_as_scd_type,
                     list(except_column_list), apply_as_deletes, apply_as_truncates)
        )

    def create_auto_cdc_from_snapshot_flow(
        self,
        *,
        target: str,
        source: str,
        keys: Sequence[str],
        stored_as_scd_type: int = 1,
    ) -> None:
        """Register a SNAPSHOT-diff CDC edge (DLT
        ``create_auto_cdc_from_snapshot_flow`` / apply_changes_from_
        snapshot): the source is a FULL table snapshot each run, with no
        change feed — changes are inferred by diffing against the
        previous run's snapshot, which the target itself holds.

        Type 1 overwrites the target with each snapshot, with no diff.
        Type 2 maintains ``__START_AT``/``__END_AT`` validity intervals
        versioned by a per-flow snapshot counter, which each rewrite
        commits (``snapshot:<source>`` in the target's ``txn`` map):
        updates and deletes close the open version; inserts (including
        re-inserts after a delete) open a new one. Incremental runs
        reproduce the one-shot `scd2_from_snapshots` fold over the
        committed runs' snapshots exactly."""
        if stored_as_scd_type not in (1, 2):
            raise ValueError("stored_as_scd_type must be 1 or 2")
        if target not in self._tables:
            raise KeyError(f"unknown streaming table {target!r}; declare it first")
        self._snapshot_flows.append(
            _SnapshotFlow(target, source, list(keys), stored_as_scd_type)
        )

    def _run_snapshot_flows(self) -> None:
        for flow in self._snapshot_flows:
            cur = self.read(flow.source)
            target = self._tables[flow.target]
            if flow.stored_as_scd_type == 1:
                target.overwrite(cur)
                continue
            progress = f"snapshot:{flow.source}"
            version = target.version()
            ver = target.txn().get(progress, 0) + 1
            validity = [F.lit(None).cast("int").alias(c) for c in ("__START_AT", "__END_AT")]
            hist = target.read() if target.exists() else cur.limit(0).select("*", *validity)
            is_open = F.col("__END_AT").isNull()
            opened = hist.filter(is_open)
            prev = opened.drop("__START_AT", "__END_AT")
            # the open versions re-enter as inserts at their start; the
            # run's changes close them and open the new ones at `ver`
            events = opened.select(
                *prev.columns,
                F.lit("insert").alias("_change_type"),
                F.col("__START_AT").alias("__v"),
            ).unionByName(
                table_changes(prev, cur, flow.keys)
                .filter(F.col("_change_type") != "update_preimage")
                .withColumn("__v", F.lit(ver))
            )
            fold = scd2_intervals(events, flow.keys)
            closed = hist.filter(~is_open).select(*fold.columns)
            target.overwrite(
                closed.unionByName(fold), expect_version=version, txn={progress: ver}
            )

    def create_append_flow(
        self,
        *,
        target: str,
        source: str,
        sequence_by: str,
    ) -> None:
        """Register an append flow (DLT ``@dlt.append_flow``): several
        sources multiplex into ONE streaming table, each appending only
        rows it has not delivered yet. Incrementality is tracked with a
        per-flow high-watermark on ``sequence_by`` committed with each
        append (``append:<source>`` in the target's ``txn`` map), so
        flows survive restarts and crashes — the batch analogue of the
        streaming checkpoint append_flow relies on. Requires a
        monotonically growing sequence per source (event-time or ingest
        id), the same contract as the streaming original."""
        if target not in self._tables:
            raise KeyError(f"unknown streaming table {target!r}; declare it first")
        self._append_flows.append(_AppendFlow(target, source, sequence_by))

    def _run_append_flows(self) -> None:
        """Append each flow's rows past its watermark, committing the new
        watermark in the same entry. The watermark keeps its type: a
        timestamp is stored as microseconds since the epoch (no timezone
        in the round trip), any other type as Spark's string form of the
        value, cast back on the next run."""
        for flow in self._append_flows:
            src = self.read(flow.source)
            target = self._tables[flow.target]
            progress = f"append:{flow.source}"
            version = target.version()
            saved = target.txn().get(progress)
            if saved is not None:
                src = src.filter(F.col(flow.sequence_by) > _watermark_lit(saved))
            seq = src.schema[flow.sequence_by].dataType
            top = F.max(flow.sequence_by)
            top = F.unix_micros(top) if isinstance(seq, T.TimestampType) else top.cast("string")
            new_max = src.agg(top).collect()[0][0]
            if new_max is None:
                continue  # nothing new from this source
            target.append(src, expect_version=version, txn={
                progress: {"watermark": new_max, "type": seq.simpleString()}
            })

    # -- resolution ---------------------------------------------------------

    def read(self, name: str) -> DataFrame:
        """Read a sibling dataset (view or managed table) — reference S5
        (`dlt.readStream("bookings_silver")`).

        Thread-safe: view resolution mutates the shared cache / lineage /
        pending-metrics / resolving-stack structures, so the whole call
        holds the pipeline's re-entrant resolve lock (recursive
        ``pl.read`` calls inside view bodies re-enter it on the same
        thread). Concurrent callers — ``finalize_run`` and the gold
        builds that overlap it in one `run_graph` — serialize on
        resolution only, which launches no Spark job."""
        with self._resolve_lock:
            return self._read_locked(name)

    def _read_locked(self, name: str) -> DataFrame:
        if self._resolving:
            # dependency edge: the dataset being resolved reads `name`
            self._lineage.add((name, self._resolving[-1]))
        if name in self._cache:
            return self._cache[name]
        if name in self._views:
            if name in self._resolving:
                raise ValueError(f"cycle in pipeline graph at {name!r}: {self._resolving}")
            self._resolving.append(name)
            try:
                v = self._views[name]
                df = v.fn(self)
                if v.quarantine_to:
                    _, quarantined = split_expectations(df, v.expectations, dataset=name)
                    self._pending_quarantine[name] = (v.quarantine_to, quarantined)
                df, self._pending_metrics[name] = apply_expectations(
                    df, v.expectations, v.policy, dataset=name
                )
            finally:
                self._resolving.pop()
            self._cache[name] = df
            return df
        if name in self._tables:
            return self._tables[name].read()
        raise KeyError(f"unknown dataset {name!r}")

    def table(self, name: str) -> ManagedParquetTable:
        return self._tables[name]

    def lineage(self) -> set[tuple[str, str]]:
        """(upstream, downstream) dataset edges — the DLT pipeline-graph
        surface. View→view edges are recorded during demand-driven
        resolution, so they appear once a run resolved the views; every
        flow's edge (CDC, append, snapshot) is declared, so it appears
        from the start."""
        return self._lineage | {
            (f.source, f.target)
            for f in (*self._flows, *self._append_flows, *self._snapshot_flows)
        }

    # -- execution ----------------------------------------------------------

    def run(self, materialize: Sequence[str] = ()) -> None:
        """One incremental batch: append and snapshot flows, all CDC flows
        (dedup + upsert) at once, then the materialized views and any
        ``materialize`` views (for side-effect-only runs). View cache is
        cleared first so a second ``run()`` observes new source data.
        Quarantined rows from every view resolved during the run are
        appended to their quarantine tables at the end, stamped with this
        run's ``__batch_id``; expectation metrics for the run are
        appended to the ``__event_log`` table (the DLT event-log
        analogue — `p.event_log()` to query it)."""
        run_graph(self.graph(materialize=materialize))

    def graph(self, after: Sequence[str] = (), materialize: Sequence[str] = ()) -> dict[str, Task]:
        """One run as `run_graph` tasks, for a caller that schedules its
        own work around the run:

        - ``begin``, after the tasks named in ``after``: `begin_run`, the
          append flows and then the snapshot flows in declaration order,
          and every CDC flow's source resolved (`resolve_flow`, no job);
        - one task per CDC flow, ``flow:<target>``, after ``begin``:
          `execute_flow`, each on its own target table;
        - ``finalize``, after ``begin`` and every CDC flow:
          `finalize_run`, so the materialized views read every flow's
          commit and the run's metrics and quarantine are complete.

        A CDC flow therefore sees this run's appends and snapshots, and
        every flow that reads a CDC target sees it as of the start of
        the run."""
        resolved: dict[str, tuple[_CdcFlow, DataFrame]] = {}

        def begin() -> None:
            self.begin_run()
            self._run_append_flows()
            self._run_snapshot_flows()
            for flow in self._flows:
                resolved[flow.target] = self.resolve_flow(flow)

        tasks: dict[str, Task] = {"begin": (begin, after)}
        for flow in self._flows:
            tasks[f"flow:{flow.target}"] = (
                lambda t=flow.target: self.execute_flow(*resolved[t]), ["begin"]
            )
        tasks["finalize"] = (
            lambda: self.finalize_run(materialize),
            ["begin", *(f"flow:{f.target}" for f in self._flows)],
        )
        return tasks

    def begin_run(self) -> None:
        """Open a new incremental batch: drop cached view resolutions so
        the run observes new source data, reset per-run metric and
        quarantine accumulators, and take the run id one past the largest
        the event log and quarantine tables committed (their appends
        record it in ``txn``); a run that records nothing needs none."""
        self._cache.clear()
        self.metrics.clear()
        self._pending_metrics.clear()
        self._pending_quarantine.clear()
        recorders = {self._EVENT_LOG} | {
            v.quarantine_to for v in self._views.values() if v.quarantine_to
        }
        self._run_id = 1 + max(self._tables[t].txn().get("run", 0) for t in recorders)

    def resolve_flow(self, flow: _CdcFlow) -> tuple[_CdcFlow, DataFrame]:
        """Resolve one CDC flow's source view with its expectation gate in
        the plan. Launches no Spark job: the gate's counters and a FAIL
        abort ride the flow's write in ``execute_flow``."""
        src = self.read(flow.source)
        if flow.except_columns:
            src = src.drop(*flow.except_columns)
        return flow, src

    def execute_flow(self, flow: _CdcFlow, src: DataFrame) -> None:
        """Apply one resolved CDC flow to its target table (SCD1 upsert /
        SCD2 apply). Concurrency-safe across flows: each target is an
        independent managed table with its own commit lock."""
        if flow.stored_as_scd_type == 2:
            scd2_apply(self._tables[flow.target], src, flow.keys, flow.sequence_by)
        else:
            self._tables[flow.target].upsert(
                src, flow.keys, flow.sequence_by,
                delete_col=flow.apply_as_deletes,
                truncate_col=flow.apply_as_truncates,
            )

    def finalize_run(self, materialize: Sequence[str] = ()) -> None:
        """Close the batch: materialized views, quarantine appends, then
        the expectation metrics of every view the run resolved (from the
        actions that consumed them) into ``metrics`` and the event log.
        No flow reads these outputs, so work that reads only the flows'
        targets may run at the same time (``graph`` lets it)."""
        for name in self._mviews:
            self._tables[name].overwrite(self.read(name))
        for name in materialize:
            self.read(name).count()
        for _vname, (qtable, qdf) in self._pending_quarantine.items():
            self._tables[qtable].append(
                qdf.withColumn("__batch_id", F.lit(self._run_id)),
                txn={"run": self._run_id},
            )
        self._pending_quarantine.clear()
        with self._resolve_lock:
            pending, self._pending_metrics = self._pending_metrics, {}
        for name, finish in pending.items():
            result = finish()
            if result is not None:
                self.metrics[name] = result
        self._append_event_log()

    def full_refresh(self, materialize: Sequence[str] = ()) -> None:
        """DLT "full refresh": drop every managed table, and with them
        the progress their commit logs hold (append-flow watermarks,
        snapshot counters, run ids), then run once from scratch. The
        guarantee — and the test's assertion — is that a refreshed
        pipeline's tables are indistinguishable from a brand new
        pipeline's.

        The whole ``storage_root`` is cleared — not just the tables
        registered on THIS instance — so no table a prior process wrote
        there survives to mix its rows or run ids with the rebuild's."""
        import shutil as _sh

        _sh.rmtree(self.storage_root, ignore_errors=True)
        os.makedirs(self.storage_root, exist_ok=True)
        self.run(materialize=materialize)

    _EVENT_LOG = "__event_log"

    def _append_event_log(self) -> None:
        if not self.metrics:
            return
        rows = [
            (
                self._run_id,
                m.dataset,
                m.policy.value,
                rule,
                m.passed_rows + m.failed_rows,
                n_failed,
            )
            for m in self.metrics.values()
            for rule, n_failed in m.per_rule_failures.items()
        ]
        self._tables[self._EVENT_LOG].append(
            self.spark.createDataFrame(
                rows,
                "run_id int, dataset string, policy string, rule string, "
                "n_rows long, n_failed long",
            ),
            txn={"run": self._run_id},
        )

    def event_log(self) -> DataFrame:
        """Per-run, per-dataset, per-rule expectation outcomes as a
        queryable table (DLT event-log parity: the audit surface for
         'which rule failed how often in which update')."""
        return self._tables[self._EVENT_LOG].read()
