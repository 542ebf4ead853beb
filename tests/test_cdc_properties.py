"""Property-based tests (hypothesis) for the CDC/SCD1 kernel.

SURVEY.md §5 plan item (c): merge/SCD1 invariants checked against a pure-
Python reference model over generated change batches —

- **key uniqueness**: after any sequence of upserts, one row per key;
- **latest-wins**: final value per key == argmax-by-sequence over all rows
  ever applied (tie → update side, per `DIM_Gold_layer.py:281` semantics);
- **batch-split invariance**: applying N rows as one batch or as any
  partition into ordered batches yields the same table;
- **idempotency**: re-applying the last batch (or the whole history) never
  changes the table.

Generated (key, seq) pairs are globally unique so every property is fully
deterministic — mirroring production, where the sequence column plus the
engine's mandatory tiebreakers make the merge cluster-deterministic.

Example counts are deliberately small: each example costs several Spark
jobs; the value of these tests is the adversarial batch *shapes*
(out-of-order sequences, repeated keys across batches, empty batches), not
raw example volume.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from databricks_end_to_end_lakeflow_project_spark.operators.cdc import (
    ManagedParquetTable,
    latest_by_key,
    merge_upsert_plan,
)
from tests.conftest import arrow_frame

SCHEMA = "key string, seq int, val int"
SCHEMA_STR = "key string, seq int, val string"

# a small key alphabet forces cross-batch key collisions (the interesting
# case); globally-unique (key, seq) keeps the model deterministic
_rows = st.lists(
    st.tuples(st.sampled_from("ABCD"), st.integers(0, 50)),
    min_size=1,
    max_size=14,
    unique=True,
).map(lambda pairs: [(k, s, i) for i, (k, s) in enumerate(pairs)])

_rows_and_cuts = _rows.flatmap(
    lambda rows: st.tuples(
        st.just(rows),
        st.lists(st.integers(1, max(1, len(rows))), max_size=3, unique=True).map(sorted),
    )
)


def _model_merge(state: dict, batch: list) -> dict:
    """Reference semantics: per key, keep the batch's max-seq row; on match
    update iff update.seq >= target.seq (tie → update)."""
    latest = {}
    for k, s, v in batch:
        if k not in latest or s > latest[k][0]:
            latest[k] = (s, v)
    out = dict(state)
    for k, (s, v) in latest.items():
        if k not in out or s >= out[k][0]:
            out[k] = (s, v)
    return out


def _split(rows: list, cuts: list) -> list:
    bounds = [0, *[c for c in cuts if c < len(rows)], len(rows)]
    return [rows[a:b] for a, b in zip(bounds, bounds[1:]) if rows[a:b]]


def _to_state(df) -> dict:
    rows = df.collect()
    assert len({r["key"] for r in rows}) == len(rows), "duplicate keys after merge"
    return {r["key"]: (r["seq"], r["val"]) for r in rows}


def test_arrow_frame_keeps_list_frame_partitions(spark):
    """The properties below build inputs with ``arrow_frame``; they must
    reach the operators in the input partitions a list-built frame has,
    so partial results (e.g. the window group limit under
    ``latest_by_key``) still merge across partitions."""
    for n in (0, 3, 14, 20, 60):
        rows = [("ABCD"[i % 4], i, i) for i in range(n)]
        fast, ref = arrow_frame(spark, rows, SCHEMA), spark.createDataFrame(rows, SCHEMA)
        got, want = ([[tuple(r) for r in p] for p in df.rdd.glom().collect() if p]
                     for df in (fast, ref))
        assert got == want
        assert "LogicalRDD" in fast._jdf.queryExecution().optimizedPlan().toString()


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(data=_rows_and_cuts)
def test_merge_plan_matches_model_and_split_invariant(spark, data):
    rows, cuts = data
    batches = _split(rows, cuts)

    # fold the batches through the DataFrame merge plan
    state_df = arrow_frame(spark, [], SCHEMA)
    model = {}
    for batch in batches:
        state_df = merge_upsert_plan(
            state_df, arrow_frame(spark, batch, SCHEMA), ["key"], "seq"
        )
        model = _model_merge(model, batch)
        assert _to_state(state_df) == model

    # batch-split invariance: the same rows as ONE batch reach the same state
    one_shot = merge_upsert_plan(
        arrow_frame(spark, [], SCHEMA),
        arrow_frame(spark, rows, SCHEMA),
        ["key"],
        "seq",
    )
    assert _to_state(one_shot) == model

    # idempotency: re-applying the final batch changes nothing
    again = merge_upsert_plan(
        state_df, arrow_frame(spark, batches[-1], SCHEMA), ["key"], "seq"
    )
    assert _to_state(again) == model


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=_rows)
def test_latest_by_key_is_model_argmax(spark, rows):
    df = arrow_frame(spark, rows, SCHEMA)
    got = _to_state(latest_by_key(df, ["key"], ["seq"]))
    assert got == _model_merge({}, rows)


def _managed_upserts_match_model(spark, data, partition_by=None) -> None:
    rows, cuts = data
    batches = _split(rows, cuts)
    path = os.path.join(
        tempfile.gettempdir(), "lakeflow_prop", f"t_{uuid.uuid4().hex[:8]}"
    )
    try:
        tbl = ManagedParquetTable(
            spark, path, keys=["key"], sequence_by="seq", partition_by=partition_by
        )
        model = {}
        for batch in batches:
            tbl.upsert(arrow_frame(spark, batch, SCHEMA))
            model = _model_merge(model, batch)
        assert _to_state(tbl.read()) == model
        tbl.upsert(arrow_frame(spark, batches[-1], SCHEMA))
        assert _to_state(tbl.read()) == model
    finally:
        import shutil

        shutil.rmtree(os.path.dirname(path), ignore_errors=True)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(data=_rows_and_cuts)
def test_managed_table_upsert_matches_model(spark, data):
    """Disk-backed path: ManagedParquetTable.upsert through create + merge +
    commit reaches the model state and stays there on re-upsert."""
    _managed_upserts_match_model(spark, data)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(data=_rows_and_cuts)
def test_partitioned_upsert_matches_model(spark, data):
    """The same fold on a table partitioned by its key, so every upsert
    after the first picks only the touched partitions' files from the
    log and carries the rest: it reaches the same model state."""
    _managed_upserts_match_model(spark, data, partition_by=["key"])


# -- deletes -----------------------------------------------------------------

DSCHEMA = "key string, seq int, val int, is_del boolean"

_drows = st.lists(
    st.tuples(st.sampled_from("ABCD"), st.integers(0, 50), st.booleans()),
    min_size=1,
    max_size=14,
    unique_by=lambda t: (t[0], t[1]),
).map(lambda triples: [(k, s, i, d) for i, (k, s, d) in enumerate(triples)])

_drows_and_cuts = _drows.flatmap(
    lambda rows: st.tuples(
        st.just(rows),
        st.lists(st.integers(1, max(1, len(rows))), max_size=3, unique=True).map(sorted),
    )
)


def _model_merge_deletes(state: dict, batch: list) -> dict:
    """Reference semantics with deletes: per key the batch's max-seq row
    wins; if it wins against the table (seq >= target) and is a delete,
    the key is removed; otherwise it upserts."""
    latest = {}
    for k, s, v, d in batch:
        if k not in latest or s > latest[k][0]:
            latest[k] = (s, v, d)
    out = dict(state)
    for k, (s, v, d) in latest.items():
        if k not in out or s >= out[k][0]:
            if d:
                out.pop(k, None)
            else:
                out[k] = (s, v)
    return out


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(data=_drows_and_cuts)
def test_merge_with_deletes_matches_model(spark, data):
    rows, cuts = data
    batches = _split(rows, cuts)
    state_df = arrow_frame(spark, [], SCHEMA)
    model = {}
    for batch in batches:
        state_df = merge_upsert_plan(
            state_df,
            arrow_frame(spark, batch, DSCHEMA),
            ["key"],
            "seq",
            delete_col="is_del",
        )
        model = _model_merge_deletes(model, batch)
        assert _to_state(state_df) == model

    # idempotency holds with deletes too: a delete winner that already
    # removed its key wins again and removes nothing new
    again = merge_upsert_plan(
        state_df,
        arrow_frame(spark, batches[-1], DSCHEMA),
        ["key"],
        "seq",
        delete_col="is_del",
    )
    assert _to_state(again) == model


# ---------------------------------------------------------------------------
# SCD2 properties
# ---------------------------------------------------------------------------


def _model_scd2(rows: list) -> set:
    """Reference SCD2 semantics in pure Python: per key, order changes by
    seq (rows are (key, seq, val) with globally-unique (key, seq)),
    collapse consecutive equal values, emit (key, val, start, end)."""
    out = set()
    bykey: dict = {}
    for k, s, v in rows:
        bykey.setdefault(k, []).append((s, v))
    for k, changes in bykey.items():
        changes.sort()
        versions = []
        for s, v in changes:
            if not versions or versions[-1][1] != v:
                versions.append((s, v))
        for i, (s, v) in enumerate(versions):
            end = versions[i + 1][0] if i + 1 < len(versions) else None
            out.add((k, v, s, end))
    return out


@given(_rows_and_cuts)
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_scd2_incremental_matches_model(spark, rows_cuts):
    """Any batching of any change stream (including out-of-order and
    late-arriving changes) produces exactly the model's version table."""
    from databricks_end_to_end_lakeflow_project_spark.operators.cdc import (
        scd2_apply,
    )

    rows, cuts = rows_cuts
    want = _model_scd2(rows)
    with tempfile.TemporaryDirectory() as d:
        t = ManagedParquetTable(spark, os.path.join(d, f"s{uuid.uuid4().hex[:6]}"))
        prev = 0
        for cut in [*cuts, len(rows)]:
            if cut <= prev:
                continue
            batch = arrow_frame(spark, rows[prev:cut], SCHEMA)
            scd2_apply(t, batch, ["key"], "seq")
            prev = cut
        got = {(r["key"], r["val"], r["__START_AT"], r["__END_AT"])
               for r in t.read().collect()}
    assert got == want


def test_scd2_documented_divergence_late_change_inside_collapsed_run(spark):
    """Pin the ONE case where incremental SCD2 differs from one-shot
    (documented in scd2_apply): a late change landing INSIDE an
    already-collapsed same-value run cannot re-open the run, because the
    run's interior no-op rows were never stored. In event-time-ordered
    ingestion this cannot occur (tests/test_streaming.py proves streamed
    == one-shot there)."""
    import os
    import tempfile
    import uuid

    from databricks_end_to_end_lakeflow_project_spark.operators.cdc import (
        ManagedParquetTable,
        scd2_apply,
        scd2_from_history,
    )

    rows = [("A", 1, "X"), ("A", 5, "X"), ("A", 3, "Y")]
    oneshot = {
        (r["key"], r["val"], r["__START_AT"], r["__END_AT"])
        for r in scd2_from_history(
            spark.createDataFrame(rows, SCHEMA_STR), ["key"], "seq"
        ).collect()
    }
    assert oneshot == {("A", "X", 1, 3), ("A", "Y", 3, 5), ("A", "X", 5, None)}
    with tempfile.TemporaryDirectory() as d:
        t = ManagedParquetTable(spark, os.path.join(d, f"dv{uuid.uuid4().hex[:6]}"))
        scd2_apply(t, spark.createDataFrame(rows[:2], SCHEMA_STR), ["key"], "seq")
        scd2_apply(t, spark.createDataFrame(rows[2:], SCHEMA_STR), ["key"], "seq")
        got = {
            (r["key"], r["val"], r["__START_AT"], r["__END_AT"])
            for r in t.read().collect()
        }
    # the 5:X re-open is irrecoverable from collapsed state — by design
    assert got == {("A", "X", 1, 3), ("A", "Y", 3, None)}
