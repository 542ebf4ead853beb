from __future__ import annotations

import contextlib
import datetime as dt
import fcntl
import os
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from databricks_end_to_end_lakeflow_project_spark.operators.cdc import (
    ManagedParquetTable,
    latest_by_key,
    merge_upsert_plan,
)


_REPO = Path(__file__).resolve().parents[1]


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


@pytest.fixture
def base_rows():
    return [
        ("A", "v1", _ts("2024-01-01T00:00:00")),
        ("B", "v1", _ts("2024-01-01T00:00:00")),
        ("C", "v1", _ts("2024-01-01T00:00:00")),
    ]


def _df(spark, rows):
    return spark.createDataFrame(rows, "key string, val string, seq timestamp")


def test_latest_by_key_picks_max_sequence(spark):
    df = _df(
        spark,
        [
            ("A", "old", _ts("2024-01-01T00:00:00")),
            ("A", "new", _ts("2024-01-02T00:00:00")),
            ("B", "only", _ts("2024-01-01T00:00:00")),
        ],
    )
    out = {r["key"]: r["val"] for r in latest_by_key(df, ["key"], ["seq"]).collect()}
    assert out == {"A": "new", "B": "only"}


def test_latest_by_key_tiebreaker_deterministic(spark):
    df = spark.createDataFrame(
        [("A", "x", 1, 1), ("A", "y", 1, 2)], "key string, val string, seq int, tid int"
    )
    out = latest_by_key(df, ["key"], ["seq"], ["tid"]).collect()
    assert len(out) == 1 and out[0]["val"] == "y"


def test_upsert_insert_update_latest_wins(spark, tmp_path, base_rows):
    t = ManagedParquetTable(spark, str(tmp_path / "t"), keys=["key"], sequence_by="seq")
    t.upsert(_df(spark, base_rows))
    updates = _df(
        spark,
        [
            ("A", "v2", _ts("2024-01-02T00:00:00")),  # newer → wins
            ("B", "stale", _ts("2023-12-31T00:00:00")),  # older → ignored
            ("D", "new", _ts("2024-01-02T00:00:00")),  # new key → insert
        ],
    )
    t.upsert(updates)
    state = {r["key"]: r["val"] for r in t.read().collect()}
    assert state == {"A": "v2", "B": "v1", "C": "v1", "D": "new"}


def test_upsert_equal_sequence_update_wins(spark, tmp_path, base_rows):
    # reference semantics: whenMatchedUpdateAll(condition="src.seq >= trg.seq")
    t = ManagedParquetTable(spark, str(tmp_path / "t"), keys=["key"], sequence_by="seq")
    t.upsert(_df(spark, base_rows))
    t.upsert(_df(spark, [("A", "same-ts-update", _ts("2024-01-01T00:00:00"))]))
    state = {r["key"]: r["val"] for r in t.read().collect()}
    assert state["A"] == "same-ts-update"


def test_upsert_idempotent(spark, tmp_path, base_rows):
    t = ManagedParquetTable(spark, str(tmp_path / "t"), keys=["key"], sequence_by="seq")
    updates = _df(spark, [("A", "v2", _ts("2024-01-02T00:00:00"))])
    t.upsert(_df(spark, base_rows))
    t.upsert(updates)
    first = sorted(map(tuple, t.read().collect()))
    t.upsert(updates)  # re-apply same batch
    assert sorted(map(tuple, t.read().collect())) == first


def test_upsert_key_uniqueness_with_intra_batch_dups(spark, tmp_path, base_rows):
    t = ManagedParquetTable(spark, str(tmp_path / "t"), keys=["key"], sequence_by="seq")
    t.upsert(_df(spark, base_rows))
    # two changes for the same key in one batch → only the latest applies
    t.upsert(
        _df(
            spark,
            [
                ("A", "mid", _ts("2024-01-02T00:00:00")),
                ("A", "final", _ts("2024-01-03T00:00:00")),
            ],
        )
    )
    rows = t.read().filter(F.col("key") == "A").collect()
    assert len(rows) == 1 and rows[0]["val"] == "final"
    counts = t.read().groupBy("key").count().filter("count > 1").collect()
    assert counts == []


def test_merge_plan_no_sequence_updates_always_win(spark, base_rows):
    target = _df(spark, base_rows)
    updates = _df(spark, [("A", "forced", _ts("2020-01-01T00:00:00"))])
    out = {r["key"]: r["val"] for r in merge_upsert_plan(target, updates, ["key"], None).collect()}
    assert out["A"] == "forced"


def test_overwrite_swap_preserves_readability(spark, tmp_path, base_rows):
    t = ManagedParquetTable(spark, str(tmp_path / "t"), keys=["key"], sequence_by="seq")
    t.upsert(_df(spark, base_rows))
    assert t.exists()
    t.overwrite(_df(spark, [("Z", "z", _ts("2024-01-01T00:00:00"))]))
    assert [r["key"] for r in t.read().collect()] == ["Z"]


def _ddf(spark, rows):
    return spark.createDataFrame(
        rows, "key string, val string, seq timestamp, is_del boolean"
    )


def test_delete_removes_key(spark, base_rows):
    target = _df(spark, base_rows)
    updates = _ddf(spark, [("A", "x", _ts("2024-01-02T00:00:00"), True)])
    out = merge_upsert_plan(target, updates, ["key"], "seq", delete_col="is_del")
    got = {r["key"] for r in out.collect()}
    assert got == {"B", "C"}


def test_stale_delete_is_ignored(spark, base_rows):
    """A delete with an OLDER sequence than the target row must not win."""
    target = _df(spark, base_rows)
    updates = _ddf(spark, [("A", "x", _ts("2023-12-31T00:00:00"), True)])
    out = merge_upsert_plan(target, updates, ["key"], "seq", delete_col="is_del")
    row = {r["key"]: r["val"] for r in out.collect()}
    assert row["A"] == "v1"


def test_delete_then_reinsert_in_one_batch(spark, base_rows):
    """Within a batch, the LATEST change per key decides: delete then a
    newer upsert → the key survives with the new value."""
    target = _df(spark, base_rows)
    updates = _ddf(
        spark,
        [
            ("A", "gone", _ts("2024-01-02T00:00:00"), True),
            ("A", "back", _ts("2024-01-03T00:00:00"), False),
            ("B", "gone", _ts("2024-01-03T00:00:00"), True),
        ],
    )
    out = merge_upsert_plan(target, updates, ["key"], "seq", delete_col="is_del")
    row = {r["key"]: r["val"] for r in out.collect()}
    assert row == {"A": "back", "C": "v1"}


def test_delete_absent_key_is_noop(spark, base_rows):
    target = _df(spark, base_rows)
    updates = _ddf(spark, [("Z", "x", _ts("2024-01-02T00:00:00"), True)])
    out = merge_upsert_plan(target, updates, ["key"], "seq", delete_col="is_del")
    assert out.count() == 3


def test_table_upsert_with_deletes_first_and_incremental(spark, tmp_path):
    tbl = ManagedParquetTable(spark, str(tmp_path / "t"), keys=["key"], sequence_by="seq")
    first = _ddf(
        spark,
        [
            ("A", "v1", _ts("2024-01-01T00:00:00"), False),
            ("B", "v1", _ts("2024-01-01T00:00:00"), True),  # never materializes
        ],
    )
    tbl.upsert(first, delete_col="is_del")
    assert {r["key"] for r in tbl.read().collect()} == {"A"}
    second = _ddf(
        spark,
        [
            ("A", "v2", _ts("2024-01-02T00:00:00"), True),
            ("C", "v1", _ts("2024-01-02T00:00:00"), False),
        ],
    )
    tbl.upsert(second, delete_col="is_del")
    assert {r["key"] for r in tbl.read().collect()} == {"C"}


def test_time_travel_versions_and_vacuum(spark, tmp_path):
    """retain_versions: each overwrite snapshots the replaced state;
    read(version=n) returns the historical table; vacuum prunes."""
    from databricks_end_to_end_lakeflow_project_spark.operators.cdc import (
        ManagedParquetTable,
    )

    t = ManagedParquetTable(
        spark, str(tmp_path / "tt"), keys=["k"], sequence_by="seq",
        retain_versions=2,
    )
    t.upsert(spark.createDataFrame([(1, 1, "a")], "k int, seq int, v string"))
    t.upsert(spark.createDataFrame([(1, 2, "b")], "k int, seq int, v string"))
    t.upsert(spark.createDataFrame([(2, 3, "c")], "k int, seq int, v string"))

    assert t.history() == [0, 1]
    assert {r["v"] for r in t.read().collect()} == {"b", "c"}
    assert {r["v"] for r in t.read(version=0).collect()} == {"a"}
    assert {r["v"] for r in t.read(version=1).collect()} == {"b"}

    # a 4th write rolls the oldest snapshot out (retain_versions=2)
    t.upsert(spark.createDataFrame([(1, 4, "d")], "k int, seq int, v string"))
    assert t.history() == [1, 2]

    assert t.vacuum(retain_last=1) == 1
    assert t.history() == [2]
    import pytest

    with pytest.raises(ValueError):
        t.read(version=0)


def test_restore_to_version_is_history_preserving(spark, tmp_path):
    """RESTORE makes a retained snapshot current again AND archives the
    replaced state first, so a bad restore is itself restorable."""
    from databricks_end_to_end_lakeflow_project_spark.operators.cdc import (
        ManagedParquetTable,
    )

    t = ManagedParquetTable(
        spark, str(tmp_path / "rst"), keys=["k"], sequence_by="seq",
        retain_versions=3,
    )
    for i, v in enumerate(["a", "b", "c"]):
        t.upsert(spark.createDataFrame([(1, i + 1, v)], "k int, seq int, v string"))
    assert {r["v"] for r in t.read().collect()} == {"c"}
    assert t.history() == [0, 1]

    t.restore(0)  # back to the "a" state
    assert {r["v"] for r in t.read().collect()} == {"a"}
    # pre-restore "c" state was archived as version 2
    assert t.history() == [0, 1, 2]
    assert {r["v"] for r in t.read(version=2).collect()} == {"c"}

    t.restore(2)  # undo the restore
    assert {r["v"] for r in t.read().collect()} == {"c"}
    import pytest

    with pytest.raises(ValueError):
        t.restore(99)


# ---------------------------------------------------------------------------
# SCD Type 2
# ---------------------------------------------------------------------------


def _scd2_rows():
    return [
        # key A: x @1, x @2 (no-op), y @4, x @6  -> versions x[1,4) y[4,6) x[6,∞)
        ("A", 1, "x"), ("A", 2, "x"), ("A", 4, "y"), ("A", 6, "x"),
        # key B: single change -> one open version
        ("B", 3, "z"),
    ]


def _scd2_df(spark, rows):
    return spark.createDataFrame(rows, "k string, seq int, attr string")


def test_scd2_versions_and_noop_collapse(spark):
    from databricks_end_to_end_lakeflow_project_spark.operators.cdc import (
        scd2_from_history,
    )

    out = scd2_from_history(_scd2_df(spark, _scd2_rows()), ["k"], "seq")
    got = {(r["k"], r["attr"], r["__START_AT"], r["__END_AT"]) for r in out.collect()}
    assert got == {
        ("A", "x", 1, 4),
        ("A", "y", 4, 6),
        ("A", "x", 6, None),
        ("B", "z", 3, None),
    }


def test_scd2_tie_resolution_latest_tiebreaker_wins(spark):
    from databricks_end_to_end_lakeflow_project_spark.operators.cdc import (
        scd2_from_history,
    )

    rows = [("A", 1, 10, "x"), ("A", 1, 20, "y"), ("A", 2, 5, "z")]
    df = spark.createDataFrame(rows, "k string, seq int, tb int, attr string")
    out = scd2_from_history(df, ["k"], "seq", tiebreakers=["tb"])
    got = {(r["attr"], r["__START_AT"], r["__END_AT"]) for r in out.collect()}
    assert got == {("y", 1, 2), ("z", 2, None)}
    assert "tb" not in out.columns  # tiebreaker is ordering-only


def test_scd2_incremental_equals_one_shot(spark, tmp_path):
    """Two-batch scd2_apply == one-shot rebuild, including a LATE
    out-of-order change (seq 5 arrives in batch 2, splitting an already
    recorded version)."""
    from databricks_end_to_end_lakeflow_project_spark.operators.cdc import (
        ManagedParquetTable,
        scd2_apply,
        scd2_from_history,
    )

    all_rows = _scd2_rows() + [("A", 5, "w"), ("B", 7, "q")]
    batch1 = _scd2_df(spark, _scd2_rows())
    batch2 = _scd2_df(spark, [("A", 5, "w"), ("B", 7, "q")])

    t = ManagedParquetTable(spark, str(tmp_path / "scd2"))
    scd2_apply(t, batch1, ["k"], "seq")
    scd2_apply(t, batch2, ["k"], "seq")
    got = {(r["k"], r["attr"], r["__START_AT"], r["__END_AT"])
           for r in t.read().collect()}
    want = {(r["k"], r["attr"], r["__START_AT"], r["__END_AT"])
            for r in scd2_from_history(_scd2_df(spark, all_rows), ["k"], "seq").collect()}
    assert got == want
    # the late seq-5 change split A's [4,6) version
    assert ("A", "w", 5, 6) in got and ("A", "y", 4, 5) in got


@pytest.mark.parametrize("order", ["as_written", "reversed"])
def test_scd2_apply_resolves_batch_ties_by_tiebreakers(spark, tmp_path, order):
    """Once the version table exists, a batch whose rows tie on the
    sequence still resolves by the tiebreakers, as the one-shot build
    does, whatever the batch's row order."""
    from databricks_end_to_end_lakeflow_project_spark.operators.cdc import (
        ManagedParquetTable,
        scd2_apply,
        scd2_from_history,
    )

    schema = "k string, seq int, tb int, attr string"
    first = [("A", 1, 0, "x")]
    batch = [("A", 2, 2, "new"), ("A", 2, 1, "old")]
    if order == "reversed":
        batch.reverse()
    t = ManagedParquetTable(spark, str(tmp_path / "scd2"))
    scd2_apply(t, spark.createDataFrame(first, schema), ["k"], "seq", ["tb"])
    scd2_apply(t, spark.createDataFrame(batch, schema), ["k"], "seq", ["tb"])

    def versions(df):
        return {(r["k"], r["attr"], r["__START_AT"], r["__END_AT"]) for r in df.collect()}

    one_shot = scd2_from_history(
        spark.createDataFrame(first + batch, schema), ["k"], "seq", ["tb"]
    )
    assert versions(t.read()) == versions(one_shot) == {
        ("A", "x", 1, 2), ("A", "new", 2, None)
    }


def test_scd2_apply_tie_with_stored_version_goes_to_batch(spark, tmp_path):
    """A batch row at the sequence of a stored version wins the tie, as
    an update wins a tie in the MERGE: applying [(A, 2, tb 1, 'y')] and
    then [(A, 1, tb 0, 'w'), (A, 2, tb 5, 'x')] equals the one-shot build
    ('x' current from seq 2), and replaying the second batch is a no-op."""
    from databricks_end_to_end_lakeflow_project_spark.operators.cdc import (
        scd2_apply,
        scd2_from_history,
    )

    schema = "k string, seq int, tb int, attr string"
    first, later = [("A", 2, 1, "y")], [("A", 1, 0, "w"), ("A", 2, 5, "x")]
    t = ManagedParquetTable(spark, str(tmp_path / "scd2"))
    scd2_apply(t, spark.createDataFrame(first, schema), ["k"], "seq", ["tb"])
    scd2_apply(t, spark.createDataFrame(later, schema), ["k"], "seq", ["tb"])

    def versions(df):
        return {(r["k"], r["attr"], r["__START_AT"], r["__END_AT"]) for r in df.collect()}

    one_shot = scd2_from_history(
        spark.createDataFrame(first + later, schema), ["k"], "seq", ["tb"]
    )
    assert versions(t.read()) == versions(one_shot) == {
        ("A", "w", 1, 2), ("A", "x", 2, None)
    }
    scd2_apply(t, spark.createDataFrame(later, schema), ["k"], "seq", ["tb"])
    assert versions(t.read()) == versions(one_shot)
    assert "tb" not in t.read().columns


def test_txn_map_commits_with_rows_and_carries_forward(spark, tmp_path):
    """Each entry holds the progress map: a commit copies the newest
    entry's map and applies its own updates, whatever kind of commit it
    is; an entry written without a map reads as {}."""
    import json
    import os

    t = ManagedParquetTable(spark, str(tmp_path / "t"), keys=["key"], sequence_by="seq")
    assert t.txn() == {}
    t.append(_df(spark, [("A", "v1", _ts("2024-01-01T00:00:00"))]), txn={"a": 1})
    t.append(_df(spark, [("B", "v1", _ts("2024-01-01T00:00:00"))]),
             txn={"b": {"watermark": "x", "type": "string"}})
    t.upsert(_df(spark, [("A", "v2", _ts("2024-01-02T00:00:00"))]))
    assert t.txn() == {"a": 1, "b": {"watermark": "x", "type": "string"}}
    t.overwrite(_df(spark, [("C", "v1", _ts("2024-01-01T00:00:00"))]), txn={"a": 2})
    assert t.txn() == {"a": 2, "b": {"watermark": "x", "type": "string"}}
    assert sorted(r["key"] for r in t.read().collect()) == ["C"]

    newest = os.path.join(t.path, "_log", f"{t.version() - 1}.json")
    with open(newest) as fh:
        entry = json.load(fh)
    del entry["txn"]
    with open(newest, "w") as fh:
        json.dump(entry, fh)
    assert t.txn() == {}
    t.append(_df(spark, [("D", "v1", _ts("2024-01-01T00:00:00"))]), txn={"c": 3})
    assert t.txn() == {"c": 3}


def test_scd2_pipeline_flow(spark, tmp_path):
    """stored_as_scd_type=2 in the DAG runtime maintains a version table."""
    from databricks_end_to_end_lakeflow_project_spark.pipeline.dag import Pipeline

    src_rows = [("A", 1, "x"), ("A", 4, "y")]
    p = Pipeline(spark, str(tmp_path / "pl"))

    @p.view(name="changes")
    def changes(pl):
        return _scd2_df(spark, src_rows)

    p.create_streaming_table("dim_hist")
    p.create_auto_cdc_flow(
        target="dim_hist", source="changes", keys=["k"],
        sequence_by="seq", stored_as_scd_type=2,
    )
    p.run()
    assert {(r["attr"], r["__END_AT"]) for r in p.table("dim_hist").read().collect()} \
        == {("x", 4), ("y", None)}

    src_rows.append(("A", 6, "x"))
    p.run()
    got = {(r["attr"], r["__START_AT"], r["__END_AT"])
           for r in p.table("dim_hist").read().collect()}
    assert got == {("x", 1, 4), ("y", 4, 6), ("x", 6, None)}


def test_scd2_rejects_deletes(spark, tmp_path):
    from databricks_end_to_end_lakeflow_project_spark.pipeline.dag import Pipeline

    p = Pipeline(spark, str(tmp_path / "pl2"))
    p.create_streaming_table("t")
    with pytest.raises(NotImplementedError):
        p.create_auto_cdc_flow(
            target="t", source="s", keys=["k"], sequence_by="seq",
            stored_as_scd_type=2, apply_as_deletes="del",
        )


# ---------------------------------------------------------------------------
# Change Data Feed (table_changes)
# ---------------------------------------------------------------------------


def test_table_changes_all_four_types(spark):
    from databricks_end_to_end_lakeflow_project_spark.operators.cdc import (
        table_changes,
    )

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None)],
        "k int, s string, v double",
    )
    new = spark.createDataFrame(
        [(2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)],
        "k int, s string, v double",
    )
    got = {(r["k"], r["s"], r["v"], r["_change_type"])
           for r in table_changes(old, new, ["k"]).collect()}
    assert got == {
        (1, "a", 10.0, "delete"),
        (3, "c", None, "update_preimage"),   # NULL flip detected (null-safe)
        (3, "c", 30.0, "update_postimage"),
        (4, "d", 40.0, "insert"),
    }  # key 2 unchanged -> absent


def test_table_changes_identical_states_empty(spark):
    from databricks_end_to_end_lakeflow_project_spark.operators.cdc import (
        table_changes,
    )

    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, s string")
    assert table_changes(df, df, ["k"]).count() == 0


# ---------------------------------------------------------------------------
# delete_where + multi-table publish
# ---------------------------------------------------------------------------


def test_delete_where_purges_and_reports(spark, tmp_path):
    from databricks_end_to_end_lakeflow_project_spark.operators.cdc import (
        ManagedParquetTable,
        delete_where,
    )

    t = ManagedParquetTable(spark, str(tmp_path / "dw"), keys=["k"], sequence_by="seq")
    t.upsert(spark.createDataFrame(
        [("u1", 1, "a"), ("u2", 1, "b"), ("u3", 1, "c")],
        "k string, seq int, v string",
    ))
    assert delete_where(t, "k = 'u2'") == 1
    assert {r["k"] for r in t.read().collect()} == {"u1", "u3"}
    # NULL-safe: a condition evaluating to NULL keeps the row
    assert delete_where(t, "v = 'nope'") == 0
    assert t.read().count() == 2


def test_publish_atomically_all_or_nothing_on_prepare_failure(spark, tmp_path):
    from databricks_end_to_end_lakeflow_project_spark.operators.cdc import (
        ManagedParquetTable,
        publish_atomically,
    )

    t1 = ManagedParquetTable(spark, str(tmp_path / "p1"))
    t2 = ManagedParquetTable(spark, str(tmp_path / "p2"))
    t1.overwrite(spark.createDataFrame([(1,)], "x int"))
    t2.overwrite(spark.createDataFrame([(2,)], "x int"))

    bad = spark.createDataFrame([(0,)], "x int").selectExpr("1/x AS x")  # fails in ANSI
    ok = spark.createDataFrame([(10,)], "x int")
    import pytest as _pytest

    with _pytest.raises(Exception):
        publish_atomically([(t1, ok), (t2, bad)])
    # prepare failed -> neither table changed, no temp junk left behind
    assert [r["x"] for r in t1.read().collect()] == [1]
    assert [r["x"] for r in t2.read().collect()] == [2]
    import os

    leftovers = [d for d in os.listdir(tmp_path) if "__tmp" in d]
    assert leftovers == []

    publish_atomically([(t1, ok), (t2, ok)])
    assert [r["x"] for r in t1.read().collect()] == [10]
    assert [r["x"] for r in t2.read().collect()] == [10]


def test_publish_atomically_commits_through_protocol(spark, tmp_path):
    """Each publish is a journaled commit: the version bumps, a table
    with ``retain_versions`` keeps the replaced state in its history,
    and no stage dir is left behind."""
    import os

    from databricks_end_to_end_lakeflow_project_spark.operators.cdc import (
        ManagedParquetTable,
        publish_atomically,
    )

    t = ManagedParquetTable(spark, str(tmp_path / "v"), retain_versions=2)
    u = ManagedParquetTable(spark, str(tmp_path / "u"))
    t.overwrite(spark.createDataFrame([(1,), (2,), (3,)], "x int"))
    t.overwrite(spark.createDataFrame([(4,), (5,), (6,)], "x int"))
    u.overwrite(spark.createDataFrame([(0,)], "x int"))
    v0, h0, u0 = t.version(), t.history(), u.version()

    publish_atomically([
        (t, spark.range(10, 15).selectExpr("CAST(id AS INT) AS x")),
        (u, spark.createDataFrame([(9,)], "x int")),
    ])
    assert t.version() == v0 + 1 and u.version() == u0 + 1
    assert len(t.history()) == len(h0) + 1
    assert sorted(r["x"] for r in t.read().collect()) == [10, 11, 12, 13, 14]
    assert sorted(r["x"] for r in t.read(t.history()[-1]).collect()) == [4, 5, 6]
    assert [r["x"] for r in u.read().collect()] == [9]
    assert [d for d in os.listdir(tmp_path) if "__tmp" in d or "__intent" in d] == []


def test_snapshot_as_of_boundaries(spark):
    """AS-OF semantics at interval edges: v == __START_AT selects the new
    version; v == __END_AT selects the successor, never both."""
    from databricks_end_to_end_lakeflow_project_spark.operators.cdc import (
        scd2_from_history,
        snapshot_as_of,
    )

    hist = scd2_from_history(_scd2_df(spark, _scd2_rows()), ["k"], "seq")
    for v, want in [(1, "x"), (3, "x"), (4, "y"), (5, "y"), (6, "x"), (99, "x")]:
        got = {r["attr"] for r in
               snapshot_as_of(hist, v).filter(F.col("k") == "A").collect()}
        assert got == {want}, (v, got)
    assert snapshot_as_of(hist, 0).filter(F.col("k") == "A").count() == 0


def test_upsert_merge_schema_evolution(spark, tmp_path):
    """merge_schema=True adds new update columns to the table (null for
    untouched rows); without it, unknown columns are dropped."""
    from databricks_end_to_end_lakeflow_project_spark.operators.cdc import (
        ManagedParquetTable,
    )

    t = ManagedParquetTable(spark, str(tmp_path / "ev"), keys=["k"], sequence_by="seq")
    t.upsert(spark.createDataFrame([("a", 1, "v1"), ("b", 1, "v1")],
                                   "k string, seq int, v string"))
    evolved = spark.createDataFrame(
        [("a", 2, "v2", 9.5), ("c", 2, "v1", 7.0)],
        "k string, seq int, v string, score double",
    )
    t.upsert(evolved, merge_schema=True)
    rows = {r["k"]: (r["v"], r["score"]) for r in t.read().collect()}
    assert rows == {"a": ("v2", 9.5), "b": ("v1", None), "c": ("v1", 7.0)}

    # default strictness: a further unknown column is silently dropped
    t.upsert(spark.createDataFrame(
        [("b", 3, "v3", 1.0, "x")],
        "k string, seq int, v string, score double, junk string",
    ))
    assert "junk" not in t.read().columns
    assert {r["k"]: r["v"] for r in t.read().collect()}["b"] == "v3"


def test_scd2_from_snapshots_hand_scenario(spark):
    """Snapshot-diff SCD2 including the re-insert-after-delete path:
    A appears, changes, disappears, reappears; B never changes; C is
    born in snapshot 3."""
    from databricks_end_to_end_lakeflow_project_spark.operators.cdc import (
        scd2_from_snapshots,
    )

    def snap(rows):
        return spark.createDataFrame(rows, "k string, val int")

    s1 = snap([("A", 1), ("B", 9)])
    s2 = snap([("A", 2), ("B", 9)])          # A updated
    s3 = snap([("B", 9)])                    # A deleted
    s4 = snap([("A", 5), ("B", 9), ("C", 7)])  # A re-inserted, C born
    hist = {
        (r["k"], r["val"], r["__START_AT"], r["__END_AT"])
        for r in scd2_from_snapshots(
            [(1, s1), (2, s2), (3, s3), (4, s4)], ["k"]
        ).collect()
    }
    assert hist == {
        ("A", 1, 1, 2),      # closed by the update
        ("A", 2, 2, 3),      # closed by the delete (no row for the delete)
        ("A", 5, 4, None),   # re-insert opens a fresh interval
        ("B", 9, 1, None),   # never changed: one open version
        ("C", 7, 4, None),
    }


def test_occ_conditional_commit_conflict_and_retry(spark, tmp_path):
    """Delta-style optimistic concurrency: a write conditional on a
    stale snapshot version raises ConcurrentWriteError (and cleans its
    staged dir); re-reading and retrying at the fresh version succeeds.
    Unconditional writes still serialize and bump the version."""
    import os

    from databricks_end_to_end_lakeflow_project_spark.operators.cdc import (
        ConcurrentWriteError,
        ManagedParquetTable,
    )

    t = ManagedParquetTable(
        spark, str(tmp_path / "t"), keys=["k"], sequence_by="seq"
    )
    df = lambda rows: spark.createDataFrame(rows, "k long, v string, seq long")
    t.upsert(df([(1, "a", 1)]))
    assert t.version() == 1

    # writer A reads its snapshot…
    v_a = t.version()
    # …writer B commits in between…
    t.upsert(df([(2, "b", 1)]))
    assert t.version() == 2
    # …A's conditional commit must conflict, not clobber B
    with pytest.raises(ConcurrentWriteError):
        t.upsert(df([(1, "a2", 2)]), expect_version=v_a)
    rows = {r["k"]: r["v"] for r in t.read().collect()}
    assert rows == {1: "a", 2: "b"}, "failed commit must leave the table intact"
    # no abandoned stage dirs
    leftovers = [d for d in os.listdir(tmp_path) if "__tmp_" in d]
    assert leftovers == []

    # retry from a fresh read succeeds
    t.upsert(df([(1, "a2", 2)]), expect_version=t.version())
    assert {r["k"]: r["v"] for r in t.read().collect()} == {1: "a2", 2: "b"}
    assert t.version() == 3


def test_occ_append_serializes_and_conflicts(spark, tmp_path):
    """Appends go through the same commit protocol: they bump the
    version, a conditional append on a stale version conflicts, and
    appended batches accumulate rows."""
    from databricks_end_to_end_lakeflow_project_spark.operators.cdc import (
        ConcurrentWriteError,
        ManagedParquetTable,
    )

    t = ManagedParquetTable(spark, str(tmp_path / "t"))
    df = lambda n: spark.range(n).selectExpr("id AS k", "CAST(id AS STRING) AS v")
    t.append(df(3))
    v1 = t.version()
    assert v1 == 1 and t.read().count() == 3
    t.append(df(2))
    assert t.version() == 2 and t.read().count() == 5
    with pytest.raises(ConcurrentWriteError):
        t.append(df(1), expect_version=v1)
    assert t.read().count() == 5


def test_occ_concurrent_threads_one_wins(spark, tmp_path):
    """Two writers race COMMITS based on the same snapshot version:
    exactly one lands, the other gets ConcurrentWriteError — never a
    lost update. Each writer's batch is precomputed from literals (the
    protocol under test is commit-time conflict detection; re-reading
    the table mid-swap is the separate, documented swap-table reader
    caveat and would only make the race flaky)."""
    import threading

    from databricks_end_to_end_lakeflow_project_spark.operators.cdc import (
        ConcurrentWriteError,
        ManagedParquetTable,
    )

    t = ManagedParquetTable(spark, str(tmp_path / "t"), keys=["k"], sequence_by="seq")
    t.upsert(spark.createDataFrame([(1, "base", 1)], "k long, v string, seq long"))
    v0 = t.version()
    frames = {
        n: spark.createDataFrame(
            [(1, "base", 1), (2, n, 1)], "k long, v string, seq long"
        )
        for n in ("A", "B")
    }
    results = {}
    gate = threading.Barrier(2)

    def writer(name):
        gate.wait()
        try:
            t.overwrite(frames[name], expect_version=v0)
            results[name] = "ok"
        except ConcurrentWriteError:
            results[name] = "conflict"

    th = [threading.Thread(target=writer, args=(n,)) for n in ("A", "B")]
    for x in th:
        x.start()
    for x in th:
        x.join()
    assert sorted(results.values()) == ["conflict", "ok"], results
    rows = {r["k"]: r["v"] for r in t.read().collect()}
    assert rows[1] == "base" and rows[2] in ("A", "B")
    assert t.version() == v0 + 1


def _commit_when_staging(monkeypatch, other_commit):
    """Run ``other_commit`` (another writer's) when the next stage write
    starts: after the caller read the table, before it commits."""
    stage = ManagedParquetTable._stage
    pending = [other_commit]

    def staged(self, df):
        if pending:
            pending.pop()()
        return stage(self, df)

    monkeypatch.setattr(ManagedParquetTable, "_stage", staged)


def _stage_dirs(t) -> list[str]:
    import os

    return [d for d in os.listdir(os.path.dirname(t.path)) if "__tmp_" in d]


@pytest.mark.parametrize("layout", ["unpartitioned", "partitioned"])
def test_upsert_conflicts_with_commit_between_read_and_commit(
    spark, tmp_path, monkeypatch, layout
):
    """An upsert commits conditional on the log entry it read, with no
    ``expect_version`` from the caller: another writer's commit landing
    between its read and its commit makes it raise, and that writer's
    rows stay. The key-partitioned table takes the pruned pick: the
    other writer adds a key to the partition the upsert touches."""
    from databricks_end_to_end_lakeflow_project_spark.operators.cdc import (
        ConcurrentWriteError,
    )

    schema = "k long, month string, attr string"
    if layout == "partitioned":
        t = _mk_partitioned(spark, tmp_path)
    else:
        t = ManagedParquetTable(spark, str(tmp_path / "t"), keys=["month", "k"])
        t.upsert(spark.createDataFrame([(1, "2024-02", "p1")], schema))
    before = {(r["k"], r["month"]): r["attr"] for r in t.read().collect()}
    v0 = t.version()

    _commit_when_staging(
        monkeypatch,
        lambda: t.upsert(spark.createDataFrame([(99, "2024-02", "other")], schema)),
    )
    with pytest.raises(ConcurrentWriteError):
        t.upsert(spark.createDataFrame([(1, "2024-02", "mine")], schema))
    monkeypatch.undo()

    state = {(r["k"], r["month"]): r["attr"] for r in t.read().collect()}
    assert state == {**before, (99, "2024-02"): "other"}
    assert t.version() == v0 + 1
    assert _stage_dirs(t) == []


def test_delete_where_conflicts_with_commit_between_read_and_commit(
    spark, tmp_path, monkeypatch
):
    """delete_where commits conditional on the version it read: a commit
    landing before its rewrite makes it raise and keeps that commit's
    rows."""
    from databricks_end_to_end_lakeflow_project_spark.operators.cdc import (
        ConcurrentWriteError,
        delete_where,
    )

    schema = "k string, seq int, v string"
    t = ManagedParquetTable(spark, str(tmp_path / "dw"), keys=["k"], sequence_by="seq")
    t.upsert(spark.createDataFrame([("u1", 1, "a"), ("u2", 1, "b")], schema))
    _commit_when_staging(
        monkeypatch, lambda: t.append(spark.createDataFrame([("u3", 1, "c")], schema))
    )
    with pytest.raises(ConcurrentWriteError):
        delete_where(t, "k = 'u2'")
    monkeypatch.undo()

    assert {r["k"] for r in t.read().collect()} == {"u1", "u2", "u3"}
    assert _stage_dirs(t) == []


def test_scd2_apply_conflicts_with_commit_between_read_and_commit(
    spark, tmp_path, monkeypatch
):
    """scd2_apply commits conditional on the version it read: a commit
    landing before its rewrite makes it raise and keeps that commit's
    versions."""
    from databricks_end_to_end_lakeflow_project_spark.operators.cdc import (
        ConcurrentWriteError,
        scd2_apply,
    )

    t = ManagedParquetTable(spark, str(tmp_path / "scd2"))
    scd2_apply(t, _scd2_df(spark, [("A", 1, "x")]), ["k"], "seq")
    _commit_when_staging(
        monkeypatch,
        lambda: scd2_apply(t, _scd2_df(spark, [("B", 1, "z")]), ["k"], "seq"),
    )
    with pytest.raises(ConcurrentWriteError):
        scd2_apply(t, _scd2_df(spark, [("A", 2, "y")]), ["k"], "seq")
    monkeypatch.undo()

    got = {(r["k"], r["attr"], r["__START_AT"], r["__END_AT"]) for r in t.read().collect()}
    assert got == {("A", "x", 1, None), ("B", "z", 1, None)}
    assert _stage_dirs(t) == []


@contextlib.contextmanager
def _lock_holder(path: str):
    """A subprocess that takes the commit lock of the table at ``path``
    and holds it until it is killed; yields its Popen."""
    code = (
        "import sys\n"
        "from databricks_end_to_end_lakeflow_project_spark.operators.cdc import "
        "ManagedParquetTable\n"
        "with ManagedParquetTable(None, sys.argv[1])._locked():\n"
        "    print('locked', flush=True)\n"
        "    sys.stdin.read()\n"
    )
    holder = subprocess.Popen(
        [sys.executable, "-c", code, path],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, cwd=_REPO,
    )
    try:
        assert holder.stdout.readline() == b"locked\n"
        yield holder
    finally:
        holder.kill()
        holder.wait()


def _short_lock_timeout(monkeypatch, seconds: float = 0.3) -> None:
    orig = ManagedParquetTable._commit
    monkeypatch.setattr(
        ManagedParquetTable,
        "_commit",
        lambda self, ev, timeout=30.0: orig(self, ev, timeout=seconds),
    )


def test_stale_lock_of_dead_owner_is_broken(spark, tmp_path):
    """A writer SIGKILLed while it holds the commit lock must not block
    the next commit: the kernel drops the flock with the dead process's
    descriptors, so the lock is free at once and the lock file stays."""
    t = ManagedParquetTable(spark, str(tmp_path / "t"))
    with _lock_holder(t.path) as holder:
        holder.kill()
        holder.wait()
    lock = os.path.join(t._log_dir(), ".lock")
    with open(lock) as fh:
        fcntl.flock(fh, fcntl.LOCK_EX | fcntl.LOCK_NB)  # raises if still held

    t.overwrite(spark.range(3).selectExpr("id AS k"))
    assert t.read().count() == 3 and t.version() == 1
    assert os.path.exists(lock), "the lock file is never removed"


def test_lock_timeout_cleans_staged_tmp(spark, tmp_path, monkeypatch):
    """A commit that times out on a held lock must clean its staged
    __tmp_ dir just like a version conflict does — a busy table must
    not leak one abandoned stage per failed writer."""
    _short_lock_timeout(monkeypatch)
    t = ManagedParquetTable(spark, str(tmp_path / "t"))
    # a live holder: this test, on its own descriptor
    os.makedirs(t._log_dir())
    with open(os.path.join(t._log_dir(), ".lock"), "a") as fh:
        fcntl.flock(fh, fcntl.LOCK_EX)
        with pytest.raises(TimeoutError):
            t.overwrite(spark.range(1).selectExpr("id AS k"))
        leftovers = [d for d in os.listdir(tmp_path) if "__tmp_" in d]
        assert leftovers == [], "staged dir must be cleaned on timeout"


def test_commit_waits_for_a_lock_held_by_another_process(spark, tmp_path, monkeypatch):
    """While another process holds the table's commit lock a commit here
    times out and leaves no stage; once that process is SIGKILLed the
    next commit goes through within the same short timeout."""
    _short_lock_timeout(monkeypatch)
    t = ManagedParquetTable(spark, str(tmp_path / "t"))
    df = spark.range(2).selectExpr("id AS k")
    with _lock_holder(t.path) as holder:
        with pytest.raises(TimeoutError):
            t.overwrite(df)
        assert [d for d in os.listdir(tmp_path) if "__tmp_" in d] == []
        assert t.version() == 0
        holder.kill()
        holder.wait()
        t.overwrite(df)
    assert t.version() == 1 and t.read().count() == 2


@pytest.mark.parametrize("op", ["overwrite", "append", "pruned_upsert"])
def test_failed_stage_write_cleans_staged_tmp(spark, tmp_path, op):
    """A stage write that raises (a FAIL expectation aborting it, say)
    removes its __tmp_ dir before re-raising: the litter sweep reclaims
    only dead writers' stages, so a live process would keep one per
    failed write. The table itself is untouched."""
    import glob

    from pyspark.errors import SparkRuntimeException

    t = ManagedParquetTable(
        spark, str(tmp_path / "t"), partition_by=["p"] if op == "pruned_upsert" else None
    )
    t.overwrite(spark.createDataFrame([(0, "x")], "k long, p string"))
    version = t.version()
    boom = F.when(F.col("id") < 2, F.col("id")).otherwise(F.raise_error(F.lit("boom")))
    bad = spark.range(3).select(boom.cast("long").alias("k"), F.lit("x").alias("p"))
    with pytest.raises(SparkRuntimeException, match="boom"):
        if op == "pruned_upsert":
            t.upsert(bad, keys=["k", "p"])
        else:
            getattr(t, op)(bad)
    assert glob.glob(f"{t.path}.__tmp_*") == []
    assert t.version() == version
    assert [tuple(r) for r in t.read().collect()] == [(0, "x")]


def test_append_publishes_atomic_batch_dir_unpartitioned(spark, tmp_path):
    """Unpartitioned appends land as ONE log entry per commit (a single
    create — readers see all of a batch or none of it) that carries the
    live files over and adds the batch's; an overwrite's entry names
    only its own files and still reads fine."""
    from databricks_end_to_end_lakeflow_project_spark.operators.cdc import (
        ManagedParquetTable,
    )

    t = ManagedParquetTable(spark, str(tmp_path / "t"))
    df = lambda lo, n: spark.range(lo, lo + n).selectExpr("id AS k")
    t.append(df(0, 3))
    first = t.files()
    t.append(df(10, 2))
    assert t.version() == 2, "one entry per append commit"
    assert set(first) < set(t.files()) and t.rows() == 5
    assert sorted(r["k"] for r in t.read().collect()) == [0, 1, 2, 10, 11]
    # an overwrite collapses back to a fresh state and still reads fine
    t.overwrite(df(100, 1))
    assert not set(first) & set(t.files())
    assert [r["k"] for r in t.read().collect()] == [100]


def test_append_partitioned_still_per_file(spark, tmp_path):
    """Partitioned tables keep the per-file append path (batch dirs are
    incompatible with partition discovery): rows land in their partition
    dirs and the partition column reads back."""
    from databricks_end_to_end_lakeflow_project_spark.operators.cdc import (
        ManagedParquetTable,
    )

    t = ManagedParquetTable(spark, str(tmp_path / "t"), partition_by=["p"])
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, p string")
    t.append(df)
    t.append(spark.createDataFrame([(3, "a")], "k long, p string"))
    got = sorted((r["k"], r["p"]) for r in t.read().collect())
    assert got == [(1, "a"), (2, "b"), (3, "a")]


def test_optimize_compacts_files_and_preserves_content(spark, tmp_path):
    """OPTIMIZE analogue: appends accumulate small files; optimize()
    collapses them into ≈target-row bins via an ordinary OCC overwrite
    commit — content identical, live file count strictly down, and
    history/time-travel still works across the compaction."""
    from databricks_end_to_end_lakeflow_project_spark.operators.cdc import (
        ConcurrentWriteError,
        ManagedParquetTable,
    )

    t = ManagedParquetTable(spark, str(tmp_path / "t"), retain_versions=2)
    t.overwrite(spark.range(0, 100).selectExpr("id AS k").repartition(4))
    for lo in (100, 200, 300):
        t.append(spark.range(lo, lo + 100).selectExpr("id AS k").repartition(4))

    def n_files():
        return len(t.files())

    before = n_files()
    v = t.version()
    bins = t.optimize(target_rows_per_file=1_000_000, expect_version=v)
    assert bins == 1
    assert n_files() < before
    assert t.read().count() == 400
    assert sorted(r["k"] for r in t.read().collect()) == list(range(400))
    # compaction is a real commit: OCC version bumped, the pre-compaction
    # state retained as a time-travel snapshot, and a stale
    # expect_version conflicts
    assert t.version() == v + 1
    snap = t.history()[-1]
    assert t.read(version=snap).count() == 400
    import pytest

    with pytest.raises(ConcurrentWriteError):
        t.optimize(expect_version=v)


# ---------------------------------------------------------------------------
# partition-pruned MERGE (upsert on a date-partitioned fact)
# ---------------------------------------------------------------------------


def _file_inventory(table):
    """{partition_rel_dir: {(filename, inode, size)}} for the table's live
    data files (its log's; the dir also holds replaced files)."""
    import os

    inv = {}
    for f in table.files():
        rel = os.path.relpath(os.path.dirname(f), table.path)
        st = os.stat(f)
        inv.setdefault(rel, set()).add((os.path.basename(f), st.st_ino, st.st_size))
    return inv


def _mk_partitioned(spark, tmp_path, retain_versions=0):
    from databricks_end_to_end_lakeflow_project_spark.operators.cdc import (
        ManagedParquetTable,
    )

    rows = [
        (k, month, f"p{k}")
        for month in ("2024-01", "2024-02", "2024-03")
        for k in range(10)
        if k % 3 != 0  # hold out %3==0 keys for insert coverage
    ]
    df = spark.createDataFrame(rows, "k long, month string, attr string")
    t = ManagedParquetTable(
        spark,
        str(tmp_path / "fact"),
        keys=["month", "k"],
        partition_by=["month"],
        retain_versions=retain_versions,
    )
    t.overwrite(df)
    return t


def test_upsert_prunes_untouched_partitions(spark, tmp_path):
    """The gold.py claim: a one-partition update batch on a
    date-partitioned fact rewrites ONLY that partition directory —
    untouched partitions keep the exact same files (same inodes, so not
    even rewritten-in-place), and the merged values are right."""
    t = _mk_partitioned(spark, tmp_path)
    before = _file_inventory(t)
    assert set(before) == {"month=2024-01", "month=2024-02", "month=2024-03"}
    v0 = t.version()

    updates = spark.createDataFrame(
        [(k, "2024-02", f"u{k}") for k in range(10)],
        "k long, month string, attr string",
    )
    t.upsert(updates)

    after = _file_inventory(t)
    assert after["month=2024-01"] == before["month=2024-01"], "untouched rewritten"
    assert after["month=2024-03"] == before["month=2024-03"], "untouched rewritten"
    assert after["month=2024-02"] != before["month=2024-02"], "touched unchanged"
    assert t.version() == v0 + 1

    state = {(r["k"], r["month"]): r["attr"] for r in t.read().collect()}
    expected = {}
    for month in ("2024-01", "2024-03"):
        for k in range(10):
            if k % 3 != 0:
                expected[(k, month)] = f"p{k}"
    for k in range(10):  # updated existing + inserted held-out keys
        expected[(k, "2024-02")] = f"u{k}"
    assert state == expected


def test_pruned_upsert_new_partition_and_partition_delete(spark, tmp_path):
    """Inserting a brand-new month creates exactly one new partition dir;
    a delete batch wiping every row of a month removes its dir; other
    partitions keep their exact files either way."""
    import pyspark.sql.functions as F  # noqa: N812

    t = _mk_partitioned(spark, tmp_path)
    before = _file_inventory(t)

    new_month = spark.createDataFrame(
        [(k, "2024-04", f"n{k}") for k in range(3)],
        "k long, month string, attr string",
    )
    t.upsert(new_month)
    inv = _file_inventory(t)
    assert set(inv) == set(before) | {"month=2024-04"}
    for rel in before:
        assert inv[rel] == before[rel], f"{rel} disturbed by new-partition insert"

    wipe = spark.createDataFrame(
        [(k, "2024-01", "x", True) for k in range(10)],
        "k long, month string, attr string, is_del boolean",
    )
    t.upsert(wipe, delete_col="is_del")
    inv2 = _file_inventory(t)
    assert "month=2024-01" not in inv2, "emptied partition must keep no file"
    assert inv2["month=2024-02"] == inv["month=2024-02"]
    assert inv2["month=2024-03"] == inv["month=2024-03"]
    assert inv2["month=2024-04"] == inv["month=2024-04"]
    assert t.read().filter(F.col("month") == "2024-01").count() == 0


def test_pruned_upsert_time_travel_hardlink_snapshot(spark, tmp_path):
    """With retention on, a pruned upsert keeps the FULL pre-state as a
    retained version whose files are never copied or moved: time travel
    reads the old values, restore round-trips, and the retained version
    survives the replacement of the touched partition's files."""
    t = _mk_partitioned(spark, tmp_path, retain_versions=2)
    pre = {(r["k"], r["month"]): r["attr"] for r in t.read().collect()}

    t.upsert(
        spark.createDataFrame(
            [(1, "2024-02", "changed")], "k long, month string, attr string"
        )
    )
    snap = t.history()[-1]
    old = {(r["k"], r["month"]): r["attr"] for r in t.read(version=snap).collect()}
    assert old == pre, "snapshot must hold the complete pre-merge state"
    assert {
        (r["k"], r["month"]): r["attr"] for r in t.read().collect()
    } != pre

    t.restore(snap)
    assert {(r["k"], r["month"]): r["attr"] for r in t.read().collect()} == pre


def test_upsert_falls_back_when_partition_not_in_keys(spark, tmp_path):
    """Partition column outside the merge key → rows may move partitions,
    so upsert must take the full-rewrite path and still be correct: the
    moved key exists ONCE, in its new partition."""
    from databricks_end_to_end_lakeflow_project_spark.operators.cdc import (
        ManagedParquetTable,
    )

    df = spark.createDataFrame(
        [(1, "2024-01", "a"), (2, "2024-02", "b")],
        "k long, month string, attr string",
    )
    t = ManagedParquetTable(
        spark, str(tmp_path / "t"), keys=["k"], partition_by=["month"]
    )
    t.overwrite(df)
    # key 1 MOVES from 2024-01 to 2024-03
    t.upsert(
        spark.createDataFrame(
            [(1, "2024-03", "a2")], "k long, month string, attr string"
        )
    )
    rows = {(r["k"]): (r["month"], r["attr"]) for r in t.read().collect()}
    assert rows == {1: ("2024-03", "a2"), 2: ("2024-02", "b")}


def test_pruned_upsert_occ_conflict_cleans_tmp(spark, tmp_path):
    """A pruned upsert conditional on a stale version must raise
    ConcurrentWriteError, leave the table untouched, and clean its
    staged tmp dir."""
    import os

    import pytest

    from databricks_end_to_end_lakeflow_project_spark.operators.cdc import (
        ConcurrentWriteError,
    )

    t = _mk_partitioned(spark, tmp_path)
    v0 = t.version()
    t.append(
        spark.createDataFrame(
            [(100, "2024-03", "later")], "k long, month string, attr string"
        )
    )
    before = _file_inventory(t)
    with pytest.raises(ConcurrentWriteError):
        t.upsert(
            spark.createDataFrame(
                [(1, "2024-02", "stale")], "k long, month string, attr string"
            ),
            expect_version=v0,
        )
    assert _file_inventory(t) == before
    parent = os.path.dirname(t.path)
    assert [d for d in os.listdir(parent) if "__tmp_" in d] == []


# ---------------------------------------------------------------------------
# read schema from the parquet footer (sources.readers.read_spark_parquet)
# ---------------------------------------------------------------------------


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _rows(df) -> list[str]:
    # repr: map columns arrive as dicts, which do not order
    return sorted(repr(r) for r in df.collect())


def _assert_reads_as_inferred(spark, got, path, recursive=True):
    """``got`` has the schema and rows of Spark's own inference over
    ``path``, or over a managed table's live files when ``path`` is the
    table (its dir also holds the files of replaced versions)."""
    if isinstance(path, ManagedParquetTable):
        inferred = spark.read.option("basePath", path.path).parquet(*path.files())
    else:
        reader = spark.read
        if recursive:
            reader = reader.option("recursiveFileLookup", "true")
        inferred = reader.parquet(path)
    assert got.schema == inferred.schema
    assert _rows(got) == _rows(inferred)


def test_footer_schema_overwrite_then_append(spark, tmp_path):
    t = ManagedParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([("a", 1)], "k string, v long"))
    t.append(spark.createDataFrame([("b", 2), ("c", None)], "k string, v long"))
    _assert_reads_as_inferred(spark, t.read(), t)
    assert len(_rows(t.read())) == 3


def test_footer_schema_empty_upsert(spark, tmp_path, base_rows):
    t = ManagedParquetTable(spark, str(tmp_path / "t"), keys=["key"], sequence_by="seq")
    t.upsert(_df(spark, []))  # first write of an empty batch
    _assert_reads_as_inferred(spark, t.read(), t)
    t.upsert(_df(spark, base_rows))
    t.upsert(_df(spark, []))
    _assert_reads_as_inferred(spark, t.read(), t)
    assert len(_rows(t.read())) == 3


def test_footer_schema_merge_schema_widening(spark, tmp_path):
    t = ManagedParquetTable(spark, str(tmp_path / "t"), keys=["k"], sequence_by="seq")
    t.upsert(spark.createDataFrame([("a", 1, "v1")], "k string, seq int, v string"))
    t.upsert(
        spark.createDataFrame(
            [("a", 2, "v2", 9.5), ("b", 2, "v1", 7.0)],
            "k string, seq int, v string, score double",
        ),
        merge_schema=True,
    )
    _assert_reads_as_inferred(spark, t.read(), t)
    assert "score" in t.read().columns


def test_footer_schema_partitioned_table_falls_back(spark, tmp_path):
    t = _mk_partitioned(spark, tmp_path)
    got = t.read()
    # the footer schema lacks `month`: partition discovery types it from
    # the files' directory names, as Spark's inference does
    _assert_reads_as_inferred(spark, got, t)
    assert "month" in got.columns


def test_footer_schema_bronze_with_rescued_data(spark, tmp_path):
    from databricks_end_to_end_lakeflow_project_spark.sources.readers import (
        read_spark_parquet,
    )
    from databricks_end_to_end_lakeflow_project_spark.streaming.ingest import (
        RESCUE_COL,
        ingest_csv_stream,
    )

    src, target = tmp_path / "raw", str(tmp_path / "bronze")
    src.mkdir()
    dirs = [target, str(tmp_path / "ckpt"), str(tmp_path / "schema")]
    (src / "a.csv").write_text("id,name\n1,x\n2,y\n")
    ingest_csv_stream(spark, str(src), *dirs)
    (src / "b.csv").write_text("id,name\nnot-an-int,z\n")  # drifts → rescue
    ingest_csv_stream(spark, str(src), *dirs)

    got = read_spark_parquet(spark, target)
    _assert_reads_as_inferred(spark, got, target, recursive=False)
    assert RESCUE_COL in got.columns
    assert got.filter(F.col(RESCUE_COL).isNotNull()).count() == 1


def test_footer_schema_column_types(spark, tmp_path):
    from decimal import Decimal

    row = (
        _ts("2024-01-02T03:04:05.123456"),
        _ts("2024-01-02T03:04:05.654321"),
        dt.date(2024, 1, 2),
        Decimal("1234567890.12"),
        [1, None, 3],
        {"a": 1, "b": None},
        (7, "s"),
        None,
    )
    schema = (
        "ts timestamp, ntz timestamp_ntz, d date, amt decimal(12,2), "
        "arr array<int>, m map<string,int>, st struct<a:int,b:string>, "
        "nothing string"
    )
    df = spark.createDataFrame([row, row], schema).withColumn("one", F.lit(1))
    t = ManagedParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(df)
    got = t.read()
    _assert_reads_as_inferred(spark, got, t)
    assert dict(got.dtypes)["ntz"] == "timestamp_ntz"


def test_footer_schema_files_disagree_reads_first_file(spark, tmp_path):
    """Files with different stored schemas: Spark's inference uses the
    first data file by path, and so does the footer read."""
    from databricks_end_to_end_lakeflow_project_spark.sources.readers import (
        read_spark_parquet,
    )

    narrow = spark.createDataFrame([("a", 1)], "k string, v long")
    wide = spark.createDataFrame([("b", 2, "x")], "k string, v long, w string")
    for first, second in ((narrow, wide), (wide, narrow)):
        path = tmp_path / f"t_{len(first.columns)}"
        first.coalesce(1).write.parquet(str(path / "batch_a"))
        second.coalesce(1).write.parquet(str(path / "batch_b"))
        got = read_spark_parquet(spark, str(path), recursive=True)
        assert got.columns == first.columns
        _assert_reads_as_inferred(spark, got, str(path))


def test_footer_schema_reads_launch_no_job(spark, tmp_path):
    from databricks_end_to_end_lakeflow_project_spark.sources.readers import (
        read_spark_parquet,
    )
    from databricks_end_to_end_lakeflow_project_spark.streaming.ingest import (
        ingest_csv_stream,
    )

    t = ManagedParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([("a", 1)], "k string, v long"))
    t.append(spark.createDataFrame([("b", 2)], "k string, v long"))
    src, bronze = tmp_path / "raw", str(tmp_path / "bronze")
    src.mkdir()
    (src / "a.csv").write_text("id,name\n1,x\n")
    ingest_csv_stream(
        spark, str(src), bronze, str(tmp_path / "ckpt"), str(tmp_path / "schema")
    )

    before = _jobs(spark)
    t.read()
    read_spark_parquet(spark, bronze)
    assert _jobs(spark) - before == 0
    # the inference the reads replaced is a job each
    spark.read.option("recursiveFileLookup", "true").parquet(t.path)
    assert _jobs(spark) - before == 1


# ---------------------------------------------------------------------------
# column maxima from the parquet footer (sources.readers.spark_parquet_max)
# ---------------------------------------------------------------------------

_MAX_SCHEMA = "k long, ts timestamp, none long"


def _max_rows(lo: int, hi: int) -> list:
    base = dt.datetime(2024, 3, 1, 12, 0, 0, 123457)
    return [(i, base + dt.timedelta(hours=7 * i, microseconds=i), None) for i in range(lo, hi)]


def test_footer_max_equals_aggregate_over_files_and_batches(spark, tmp_path):
    import glob

    from databricks_end_to_end_lakeflow_project_spark.sources.readers import (
        spark_parquet_max,
    )

    t = ManagedParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame(_max_rows(0, 40), _MAX_SCHEMA).repartition(3))
    t.append(spark.createDataFrame(_max_rows(90, 95), _MAX_SCHEMA))  # batch subdir
    t.append(spark.createDataFrame(_max_rows(40, 60), _MAX_SCHEMA).repartition(2))
    assert len(glob.glob(f"{t.path}/**/*.parquet", recursive=True)) >= 4
    df = t.read()
    assert spark_parquet_max(t.path, "k") == df.agg(F.max("k")).collect()[0][0] == 94
    assert spark_parquet_max(t.path, "ts") == df.agg(F.unix_micros(F.max("ts"))).collect()[0][0]


def test_footer_max_none_for_all_null_and_empty(spark, tmp_path):
    from databricks_end_to_end_lakeflow_project_spark.sources.readers import (
        spark_parquet_max,
    )

    t = ManagedParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame(_max_rows(0, 10), _MAX_SCHEMA).repartition(2))
    assert spark_parquet_max(t.path, "none") is None
    e = ManagedParquetTable(spark, str(tmp_path / "e"))
    e.overwrite(spark.createDataFrame([], _MAX_SCHEMA))
    assert spark_parquet_max(e.path, "k") is None
    assert spark_parquet_max(e.path, "ts") is None
    assert spark_parquet_max(str(tmp_path / "missing"), "k") is None


def test_footer_max_int96_falls_back_to_aggregate(spark, tmp_path):
    from databricks_end_to_end_lakeflow_project_spark.plans.gold import _high_water
    from databricks_end_to_end_lakeflow_project_spark.session import cloned_session
    from databricks_end_to_end_lakeflow_project_spark.sources.readers import (
        spark_parquet_max,
    )

    legacy = cloned_session(spark, {"spark.sql.parquet.outputTimestampType": "INT96"})
    t = ManagedParquetTable(legacy, str(tmp_path / "t"))
    t.overwrite(legacy.createDataFrame(_max_rows(0, 30), _MAX_SCHEMA).repartition(2))
    with pytest.raises(LookupError):
        spark_parquet_max(t.path, "ts")
    assert spark_parquet_max(t.path, "k") == 29  # the long column still answers

    before = _jobs(spark)
    ts, k = _high_water(t, ["ts", "k"])
    assert _jobs(spark) - before > 0  # the aggregate ran
    got = legacy.range(1).select(ts.alias("ts"), k.alias("k")).collect()[0]
    want = t.read().agg(F.max("ts"), F.max("k")).collect()[0]
    assert (got["ts"], got["k"]) == tuple(want)


def test_footer_max_reads_launch_no_job(spark, tmp_path):
    from databricks_end_to_end_lakeflow_project_spark.plans.gold import _high_water

    t = ManagedParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame(_max_rows(0, 30), _MAX_SCHEMA).repartition(2))
    t.append(spark.createDataFrame(_max_rows(30, 35), _MAX_SCHEMA))
    before = _jobs(spark)
    ts, k, none = _high_water(t, ["ts", "k", "none"])
    assert _jobs(spark) - before == 0
    assert none is None
    got = spark.range(1).select(ts.alias("ts"), k.alias("k")).collect()[0]
    want = t.read().agg(F.max("ts"), F.max("k")).collect()[0]
    assert (got["ts"], got["k"]) == tuple(want)


# ---------------------------------------------------------------------------
# the commit log: readers take an entry's files, never the directory
# ---------------------------------------------------------------------------


def test_scan_planned_before_commit_reads_pre_commit_rows(spark, tmp_path):
    """At retain_versions=0 a scan planned before a commit and collected
    after it still reads the pre-commit rows: the post-commit vacuum
    keeps the files of the entry it replaced. An explicit vacuum(0)
    removes them, leaving only the current files on disk."""
    import os

    t = ManagedParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1,), (2,)], "k long"))
    t.overwrite(spark.createDataFrame([(3,)], "k long"))
    planned = t.read()
    t.overwrite(spark.createDataFrame([(4,), (5,)], "k long"))
    assert sorted(r["k"] for r in planned.collect()) == [3]
    assert sorted(r["k"] for r in t.read().collect()) == [4, 5]
    assert t.history() == []

    assert t.vacuum(0) == 1
    on_disk = {
        os.path.join(root, f)
        for root, _dirs, names in os.walk(t.path)
        if not root.endswith(os.sep + "_log")
        for f in names
    }
    assert on_disk == set(t.files())


def test_read_of_many_live_files_launches_no_job(spark, tmp_path):
    """A read takes the newest entry's file list and the footer schema:
    no listing job even for more files than Spark lists serially by
    default (32 paths)."""
    t = ManagedParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.range(0, 70, numPartitions=7))
    for i in range(33):
        t.append(spark.range(100 + i, 101 + i, numPartitions=1))
    assert len(t.files()) >= 40
    before = _jobs(spark)
    df = t.read()
    assert _jobs(spark) - before == 0
    assert df.count() == t.rows() == 103


def test_registry_read_in_a_default_threshold_session_launches_no_job(spark, tmp_path):
    """A registry query pins the partition-discovery threshold on the
    session it is handed (`session.PINNED_CONF`), so in a session left
    at Spark's default of 32 paths its read of a 40-file table launches
    no listing job."""
    from databricks_end_to_end_lakeflow_project_spark.registry import _pin_session

    session = spark.newSession()
    session.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold", "32")
    t = ManagedParquetTable(session, str(tmp_path / "t"))
    t.overwrite(session.range(0, 40, numPartitions=40))
    assert len(t.files()) == 40
    query = _pin_session(lambda s, sf_dir: ManagedParquetTable(s, t.path).read())
    before = _jobs(spark)
    df = query(session, "")
    assert _jobs(spark) - before == 0
    assert df.count() == 40


def test_pruned_upsert_takes_touched_files_from_the_log(spark, tmp_path):
    """A partition-pruned upsert finds the touched partitions' files in
    the log and reads them with the footer schema: two jobs for the
    touched values (the distinct's shuffle and its collect), two for
    the staged merge — no schema-inference job for the partitioned
    read and no ``input_file_name`` collect asking Spark which files
    the pruned scan reads (7 jobs before the commit log)."""
    t = _mk_partitioned(spark, tmp_path)
    updates = spark.createDataFrame(
        [(k, "2024-02", f"u{k}") for k in range(10)],
        "k long, month string, attr string",
    )
    before = _jobs(spark)
    t.upsert(updates)
    assert _jobs(spark) - before == 4
    state = {(r["k"], r["month"]): r["attr"] for r in t.read().collect()}
    assert {v for (k, m), v in state.items() if m == "2024-02"} == {
        f"u{k}" for k in range(10)
    }
    assert len(state) == 2 * 6 + 10
