from __future__ import annotations

import glob
import os

import pytest
from pyspark.errors import SparkRuntimeException

from databricks_end_to_end_lakeflow_project_spark.pipeline.dag import Pipeline
from databricks_end_to_end_lakeflow_project_spark.pipeline.expectations import (
    Policy,
    apply_expectations,
)


@pytest.fixture
def df(spark):
    return spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c"), (None, "d")], "id int, val string"
    )


def test_expect_drop(df):
    out, finish = apply_expectations(
        df, {"id_set": "id IS NOT NULL", "val_set": "val IS NOT NULL"}, Policy.DROP, "ds"
    )
    assert out.count() == 2
    m = finish()
    assert m.failed_rows == 2 and m.passed_rows == 2
    assert m.per_rule_failures == {"id_set": 1, "val_set": 1}


def test_expect_warn_keeps_rows(df):
    out, finish = apply_expectations(df, {"id_set": "id IS NOT NULL"}, Policy.WARN, "ds")
    assert out.count() == 4
    assert finish().failed_rows == 1


def test_expect_fail_raises(df):
    # gating is a plan transformation: the violation aborts the action
    out, _ = apply_expectations(df, {"id_set": "id IS NOT NULL"}, Policy.FAIL, "ds")
    with pytest.raises(SparkRuntimeException, match="ds: row violates expectations id_set"):
        out.count()


def test_expect_fail_passes_when_clean(df):
    clean = df.filter("id IS NOT NULL AND val IS NOT NULL")
    out, finish = apply_expectations(clean, {"id_set": "id IS NOT NULL"}, Policy.FAIL, "ds")
    assert out.count() == 2 and finish().failed_rows == 0


def test_pipeline_cycle_detection(spark, tmp_path):
    p = Pipeline(spark, str(tmp_path))

    @p.view(name="a")
    def a(pl):
        return pl.read("b")

    @p.view(name="b")
    def b(pl):
        return pl.read("a")

    with pytest.raises(ValueError, match="cycle"):
        p.read("a")


def test_pipeline_view_chaining(spark, tmp_path, df):
    p = Pipeline(spark, str(tmp_path))

    @p.view(name="src")
    def src(pl):
        return df

    @p.view(name="doubled")
    def doubled(pl):
        from pyspark.sql import functions as F

        return pl.read("src").withColumn("id2", F.col("id") * 2)

    assert p.read("doubled").filter("id2 = 6").count() == 1


def test_cdc_flow_requires_declared_table(spark, tmp_path):
    p = Pipeline(spark, str(tmp_path))
    with pytest.raises(KeyError):
        p.create_auto_cdc_flow(target="missing", source="src", keys=["k"], sequence_by="s")


def test_observed_expectations_single_pass(spark):
    """Observation-based expectations: metrics come from the SAME action
    that materializes the gated frame, including rows dropped by the
    gate."""
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (None, "c"), (4, "d")], "id int, name string"
    )
    rules = {"id_set": "id IS NOT NULL", "name_set": "name IS NOT NULL"}

    gated, finish = apply_expectations(df, rules, Policy.DROP, "t")
    kept = gated.count()  # the one action; metrics piggyback on it
    got = finish()

    assert kept == 2
    assert got.failed_rows == 2
    assert got.passed_rows == 2
    assert got.per_rule_failures == {"id_set": 1, "name_set": 1}


@pytest.mark.parametrize("policy", list(Policy))
def test_resolving_gated_view_launches_no_job(spark, tmp_path, policy):
    """Resolving a view with expectations over a parquet dir is a pure
    plan transformation: no Spark job, so the resolve lock never waits
    on one. Finalizing a run whose action never touched the view
    returns at once with no metrics for it."""
    from databricks_end_to_end_lakeflow_project_spark.sources.readers import (
        read_spark_parquet,
    )

    src = str(tmp_path / "src")
    spark.createDataFrame([(1, "a"), (None, "b")], "id int, v string").write.parquet(src)
    p = Pipeline(spark, str(tmp_path / "p"))

    @p.view(name="gated", expectations={"id_set": "id IS NOT NULL"}, policy=policy)
    def gated(pl):
        return read_spark_parquet(spark, src)

    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    p.begin_run()
    before = scheduler.nextJobId()
    p.read("gated")
    assert scheduler.nextJobId() == before
    p.finalize_run()
    assert p.metrics == {}


def test_fail_view_aborts_cdc_write_before_commit(spark, tmp_path):
    """A FAIL expectation on a CDC flow's source aborts the staged write
    before the log-entry create: the target keeps its rows and version,
    no stage dir or file outside the log is left, and the failed run
    logs no expectation rows."""
    rows = [(1, 1, "a"), (2, 1, "b")]
    p = Pipeline(spark, str(tmp_path / "p"))

    @p.view(name="src", expectations={"v_set": "v IS NOT NULL"}, policy=Policy.FAIL)
    def src(pl):
        return spark.createDataFrame(rows, "k int, seq int, v string")

    p.create_streaming_table("tgt")
    p.create_auto_cdc_flow(target="tgt", source="src", keys=["k"], sequence_by="seq")
    p.run()
    assert p.metrics["src"].failed_rows == 0 and p.metrics["src"].passed_rows == 2
    t = p.table("tgt")
    state = sorted(map(tuple, t.read().collect()))
    version = t.version()

    rows.extend([(1, 2, "a2"), (3, 2, None)])
    with pytest.raises(SparkRuntimeException, match="src: row violates expectations v_set"):
        p.run()
    assert sorted(map(tuple, t.read().collect())) == state
    assert t.version() == version
    on_disk = {
        os.path.join(root, f)
        for root, _dirs, names in os.walk(t.path)
        if not root.endswith(os.sep + "_log")
        for f in names
    }
    assert on_disk == set(t.files())
    assert glob.glob(f"{t.path}.__tmp_*") == []
    assert {r["run_id"] for r in p.event_log().collect()} == {1}


def test_quarantine_routes_violations_to_side_table(spark, tmp_path):
    """Expectation violations land in the quarantine table with
    __failed_rules / __dataset / __batch_id; the view itself only passes
    clean rows; a second run appends with the next batch id."""
    from databricks_end_to_end_lakeflow_project_spark.pipeline.dag import Pipeline

    src = [(1, "ok"), (2, None), (3, ""), (4, "fine")]
    p = Pipeline(spark, str(tmp_path / "q"))

    @p.view(
        name="clean",
        expectations={"not_null": "v IS NOT NULL", "not_empty": "v <> ''"},
        quarantine_to="bad_rows",
    )
    def clean(pl):
        return spark.createDataFrame(src, "id int, v string")

    p.run(materialize=["clean"])
    assert {r["id"] for r in p.read("clean").collect()} == {1, 4}
    bad = p.table("bad_rows").read().collect()
    got = {(r["id"], tuple(r["__failed_rules"]), r["__dataset"], r["__batch_id"])
           for r in bad}
    # NULL fails BOTH rules (not_empty is NULL-unknown -> fails the gate)
    assert got == {
        (2, ("not_null", "not_empty"), "clean", 1),
        (3, ("not_empty",), "clean", 1),
    }

    p.run(materialize=["clean"])
    assert p.table("bad_rows").read().count() == 4
    assert {r["__batch_id"] for r in p.table("bad_rows").read().collect()} == {1, 2}


def test_quarantine_requires_expectations_and_drop(spark, tmp_path):
    import pytest as _pytest

    from databricks_end_to_end_lakeflow_project_spark.pipeline.dag import Pipeline
    from databricks_end_to_end_lakeflow_project_spark.pipeline.expectations import (
        Policy,
    )

    p = Pipeline(spark, str(tmp_path / "q2"))
    with _pytest.raises(ValueError):
        p.view(name="x", expectations={"r": "1=1"},
               policy=Policy.WARN, quarantine_to="t")
    with _pytest.raises(ValueError):
        @p.view(name="y", quarantine_to="t")
        def y(pl):
            return None


def test_apply_as_truncates_full_snapshot_reload(spark, tmp_path):
    """A truncate marker at seq T discards all target rows and same-batch
    changes with seq < T; changes at/after T apply on the fresh slate."""
    from databricks_end_to_end_lakeflow_project_spark.operators.cdc import (
        ManagedParquetTable,
    )

    t = ManagedParquetTable(spark, str(tmp_path / "tr"), keys=["k"], sequence_by="seq")
    t.upsert(spark.createDataFrame(
        [("a", 1, "v1", False), ("b", 1, "v1", False)],
        "k string, seq int, v string, trunc boolean"), truncate_col="trunc")
    assert {r["k"] for r in t.read().collect()} == {"a", "b"}

    # batch 2: stale pre-truncate change for c (seq 2), truncate at 5,
    # post-truncate snapshot rows for a and d
    t.upsert(spark.createDataFrame(
        [("c", 2, "stale", False), (None, 5, None, True),
         ("a", 6, "v2", False), ("d", 6, "v1", False)],
        "k string, seq int, v string, trunc boolean"), truncate_col="trunc")
    got = {(r["k"], r["seq"], r["v"]) for r in t.read().collect()}
    assert got == {("a", 6, "v2"), ("d", 6, "v1")}  # b and stale c are gone


def test_first_upsert_applies_truncate_marker(spark, tmp_path):
    """A first write whose batch carries a truncate marker keeps only the
    batch's changes at or after the marker's sequence, and stores no
    marker column."""
    from databricks_end_to_end_lakeflow_project_spark.operators.cdc import (
        ManagedParquetTable,
    )

    t = ManagedParquetTable(spark, str(tmp_path / "tr0"), keys=["k"], sequence_by="seq")
    t.upsert(spark.createDataFrame(
        [("a", 1, "v1", False), ("b", 2, "v1", False), (None, 3, None, True),
         ("c", 3, "v1", False), ("a", 4, "v2", False)],
        "k string, seq int, v string, trunc boolean"), truncate_col="trunc")
    got = t.read()
    assert "trunc" not in got.columns
    assert {(r["k"], r["seq"], r["v"]) for r in got.collect()} == {
        ("a", 4, "v2"), ("c", 3, "v1")
    }


def test_truncates_noop_without_markers(spark, tmp_path):
    from databricks_end_to_end_lakeflow_project_spark.operators.cdc import (
        ManagedParquetTable,
    )

    t = ManagedParquetTable(spark, str(tmp_path / "tr2"), keys=["k"], sequence_by="seq")
    t.upsert(spark.createDataFrame(
        [("a", 1, False)], "k string, seq int, trunc boolean"), truncate_col="trunc")
    t.upsert(spark.createDataFrame(
        [("b", 2, False)], "k string, seq int, trunc boolean"), truncate_col="trunc")
    assert {r["k"] for r in t.read().collect()} == {"a", "b"}


def test_truncates_via_pipeline_flow(spark, tmp_path):
    from databricks_end_to_end_lakeflow_project_spark.pipeline.dag import Pipeline

    batches = [
        [("a", 1, "v1", False), ("b", 1, "v1", False)],
        [(None, 3, None, True), ("b", 4, "v2", False)],
    ]
    state = {"i": 0}
    p = Pipeline(spark, str(tmp_path / "trp"))

    @p.view(name="changes")
    def changes(pl):
        return spark.createDataFrame(
            batches[state["i"]], "k string, seq int, v string, trunc boolean"
        )

    p.create_streaming_table("snap")
    p.create_auto_cdc_flow(
        target="snap", source="changes", keys=["k"], sequence_by="seq",
        apply_as_truncates="trunc",
    )
    p.run()
    assert p.table("snap").read().count() == 2
    state["i"] = 1
    p.run()
    got = {(r["k"], r["v"]) for r in p.table("snap").read().collect()}
    assert got == {("b", "v2")}


def test_materialized_view_recomputes_per_run(spark, tmp_path):
    """DLT @dlt.table analogue: full recompute + persist each run, so the
    table always reflects current upstream (no carried state)."""
    from databricks_end_to_end_lakeflow_project_spark.pipeline.dag import Pipeline

    rows = [(1, 10.0), (2, 20.0)]
    p = Pipeline(spark, str(tmp_path / "mv"))

    @p.materialized_view(name="totals")
    def totals(pl):
        df = spark.createDataFrame(rows, "k int, v double")
        from pyspark.sql import functions as F
        return df.groupBy("k").agg(F.sum("v").alias("total"))

    p.run()
    assert {(r["k"], r["total"]) for r in p.table("totals").read().collect()} \
        == {(1, 10.0), (2, 20.0)}

    rows.clear(); rows.extend([(1, 5.0)])  # upstream shrank — mview must follow
    p.run()
    assert {(r["k"], r["total"]) for r in p.table("totals").read().collect()} \
        == {(1, 5.0)}


def test_event_log_records_per_rule_outcomes(spark, tmp_path):
    """DLT event-log parity: every run appends (run_id, dataset, policy,
    rule, n_rows, n_failed) rows queryable via p.event_log()."""
    from databricks_end_to_end_lakeflow_project_spark.pipeline.dag import Pipeline

    src = [(1, "ok"), (2, None), (3, "x")]
    p = Pipeline(spark, str(tmp_path / "el"))

    @p.view(name="gated", expectations={"v_not_null": "v IS NOT NULL"})
    def gated(pl):
        return spark.createDataFrame(src, "id int, v string")

    p.run(materialize=["gated"])
    log1 = {(r["run_id"], r["dataset"], r["rule"], r["n_rows"], r["n_failed"])
            for r in p.event_log().collect()}
    assert log1 == {(1, "gated", "v_not_null", 3, 1)}

    src.append((4, None))
    p.run(materialize=["gated"])
    log2 = {(r["run_id"], r["n_rows"], r["n_failed"]) for r in p.event_log().collect()}
    assert log2 == {(1, 3, 1), (2, 4, 2)}


def test_lineage_edges_cover_views_and_flows(spark, tmp_path):
    """The lineage graph records view→view read edges plus declared CDC
    flow edges — the DLT pipeline-graph surface."""
    from databricks_end_to_end_lakeflow_project_spark.pipeline.dag import Pipeline

    p = Pipeline(spark, str(tmp_path / "lin"))

    @p.view(name="raw")
    def raw(pl):
        return spark.createDataFrame([(1, 1, "x")], "k int, seq int, v string")

    @p.view(name="staged")
    def staged(pl):
        return pl.read("raw")

    p.create_streaming_table("silver")
    p.create_auto_cdc_flow(target="silver", source="staged",
                           keys=["k"], sequence_by="seq")

    @p.view(name="report")
    def report(pl):
        return pl.read("silver")

    p.run(materialize=["report"])
    assert {("raw", "staged"), ("staged", "silver"), ("silver", "report")} \
        <= p.lineage()


def test_append_flows_multiplex_without_duplicates(spark, tmp_path):
    """DLT append_flow parity: two sources append into one target; a
    second run with partially-new data delivers only rows past each
    flow's persisted watermark (no duplicates, nothing lost)."""
    from databricks_end_to_end_lakeflow_project_spark.pipeline.dag import Pipeline

    a_rows = [(1, "a"), (2, "a")]
    b_rows = [(10, "b")]
    p = Pipeline(spark, str(tmp_path / "af"))

    @p.view(name="src_a")
    def src_a(pl):
        return spark.createDataFrame(a_rows, "seq int, origin string")

    @p.view(name="src_b")
    def src_b(pl):
        return spark.createDataFrame(b_rows, "seq int, origin string")

    p.create_streaming_table("multiplexed")
    p.create_append_flow(target="multiplexed", source="src_a", sequence_by="seq")
    p.create_append_flow(target="multiplexed", source="src_b", sequence_by="seq")

    p.run()
    got = sorted((r["seq"], r["origin"])
                 for r in p.table("multiplexed").read().collect())
    assert got == [(1, "a"), (2, "a"), (10, "b")]

    a_rows.append((3, "a"))          # new row for flow a
    b_rows[:] = b_rows               # flow b unchanged
    p.run()
    got = sorted((r["seq"], r["origin"])
                 for r in p.table("multiplexed").read().collect())
    assert got == [(1, "a"), (2, "a"), (3, "a"), (10, "b")]

    # watermarks survive a fresh Pipeline over the same storage root
    p2 = Pipeline(spark, str(tmp_path / "af"))

    @p2.view(name="src_a")
    def src_a2(pl):
        return spark.createDataFrame(a_rows, "seq int, origin string")

    @p2.view(name="src_b")
    def src_b2(pl):
        return spark.createDataFrame(b_rows, "seq int, origin string")

    p2.create_streaming_table("multiplexed")
    p2.create_append_flow(target="multiplexed", source="src_a", sequence_by="seq")
    p2.create_append_flow(target="multiplexed", source="src_b", sequence_by="seq")
    p2.run()
    assert p2.table("multiplexed").read().count() == 4  # nothing re-delivered


def test_append_flow_timestamp_watermark_survives_runs(spark, tmp_path):
    """A timestamp ``sequence_by`` keeps its type through the watermark
    the target's log holds: two runs and a fresh Pipeline over the same
    storage deliver every row once, with sub-second sequences kept
    exact."""
    import datetime as dt

    base = dt.datetime(2024, 3, 10, 1, 30, 0, 250001)
    rows = [(base, "a"), (base + dt.timedelta(microseconds=1), "b")]

    def pipeline() -> Pipeline:
        p = Pipeline(spark, str(tmp_path / "ts"))

        @p.view(name="events")
        def events(pl):
            return spark.createDataFrame(rows, "seq timestamp, v string")

        p.create_streaming_table("log")
        p.create_append_flow(target="log", source="events", sequence_by="seq")
        return p

    def delivered(p) -> list[str]:
        return sorted(r["v"] for r in p.table("log").read().collect())

    p = pipeline()
    p.run()
    assert delivered(p) == ["a", "b"]
    assert p.table("log").txn()["append:events"]["type"] == "timestamp"
    rows.append((base + dt.timedelta(microseconds=2), "c"))
    p.run()
    assert delivered(p) == ["a", "b", "c"]

    rows.append((base + dt.timedelta(seconds=1), "d"))
    p2 = pipeline()
    p2.run()
    p2.run()
    assert delivered(p2) == ["a", "b", "c", "d"]


def test_snapshot_flow_scd2_incremental_equals_oneshot(spark, tmp_path):
    """create_auto_cdc_from_snapshot_flow: four pipeline runs, each
    seeing a new FULL snapshot, must reproduce the one-shot
    scd2_from_snapshots fold exactly — including a delete closing the
    open version rowlessly and a later re-insert; the type-1 variant
    tracks the latest snapshot verbatim."""
    from databricks_end_to_end_lakeflow_project_spark.operators.cdc import (
        scd2_from_snapshots,
    )
    from databricks_end_to_end_lakeflow_project_spark.pipeline.dag import Pipeline

    snaps = [
        [("A", 1), ("B", 9)],
        [("A", 2), ("B", 9)],
        [("B", 9)],
        [("A", 5), ("B", 9), ("C", 7)],
    ]
    holder = {"rows": snaps[0]}

    p = Pipeline(spark, str(tmp_path / "pipe"))

    @p.view(name="src_snapshot")
    def _src(pl):
        return spark.createDataFrame(holder["rows"], "k string, val int")

    p.create_streaming_table("dim_hist")
    p.create_streaming_table("dim_latest")
    p.create_auto_cdc_from_snapshot_flow(
        target="dim_hist", source="src_snapshot", keys=["k"], stored_as_scd_type=2
    )
    p.create_auto_cdc_from_snapshot_flow(
        target="dim_latest", source="src_snapshot", keys=["k"], stored_as_scd_type=1
    )
    for rows in snaps:
        holder["rows"] = rows
        p.run()

    got = {
        (r["k"], r["val"], r["__START_AT"], r["__END_AT"])
        for r in p.table("dim_hist").read().collect()
    }
    oneshot = scd2_from_snapshots(
        [(i + 1, spark.createDataFrame(r, "k string, val int")) for i, r in enumerate(snaps)],
        ["k"],
    )
    want = {
        (r["k"], r["val"], r["__START_AT"], r["__END_AT"]) for r in oneshot.collect()
    }
    assert got == want
    latest = {(r["k"], r["val"]) for r in p.table("dim_latest").read().collect()}
    assert latest == set(snaps[-1])


def test_full_refresh_clears_prior_process_state(spark, tmp_path):
    """full_refresh must clear on-disk state created by a PRIOR process —
    the lazily-created __event_log and quarantine tables a new Pipeline
    instance never re-declares — so reset __batch_id values cannot
    collide with stale pre-refresh rows."""
    from databricks_end_to_end_lakeflow_project_spark.pipeline.dag import Pipeline

    root = str(tmp_path / "p")
    src = [(1, "ok"), (2, None)]

    def build():
        p = Pipeline(spark, root)

        @p.view(
            name="clean",
            expectations={"not_null": "v IS NOT NULL"},
            quarantine_to="bad_rows",
        )
        def clean(pl):
            return spark.createDataFrame(src, "id int, v string")

        return p

    p1 = build()
    p1.run(materialize=["clean"])
    p1.run(materialize=["clean"])  # runs 1 and 2 on disk

    # "new process": fresh instance over the same storage root
    p2 = build()
    p2.full_refresh(materialize=["clean"])
    # all post-refresh rows carry run 1 ids with no stale survivors
    assert {r["run_id"] for r in p2.event_log().collect()} == {1}
    bad = p2.table("bad_rows").read().collect()
    assert {(r["id"], r["__batch_id"]) for r in bad} == {(2, 1)}


def test_full_refresh_equals_fresh_pipeline(spark, tmp_path):
    """full_refresh drops targets AND incremental side state (append
    watermarks, snapshot counters), so the rebuilt tables match a
    brand-new pipeline run — not a double-applied increment."""
    from databricks_end_to_end_lakeflow_project_spark.pipeline.dag import Pipeline

    rows = [("A", 1, 10), ("B", 2, 20), ("A", 3, 30)]

    def build(root):
        p = Pipeline(spark, root)

        @p.view(name="src")
        def _src(pl):
            return spark.createDataFrame(rows, "k string, seq int, v int")

        p.create_streaming_table("tgt")
        p.create_auto_cdc_flow(
            target="tgt", source="src", keys=["k"], sequence_by="seq"
        )
        p.create_streaming_table("log")
        p.create_append_flow(target="log", source="src", sequence_by="seq")
        return p

    p1 = build(str(tmp_path / "a"))
    p1.run()
    p1.run()  # second incremental run (append flow must not double)
    p1.full_refresh()
    refreshed_tgt = sorted(map(tuple, p1.table("tgt").read().collect()))
    refreshed_log = sorted(map(tuple, p1.table("log").read().collect()))

    p2 = build(str(tmp_path / "b"))
    p2.run()
    assert refreshed_tgt == sorted(map(tuple, p2.table("tgt").read().collect()))
    assert refreshed_log == sorted(map(tuple, p2.table("log").read().collect()))


def _quarantining_pipeline(spark, root: str, src: list) -> Pipeline:
    p = Pipeline(spark, root)

    @p.view(
        name="clean",
        expectations={"not_null": "v IS NOT NULL"},
        quarantine_to="bad_rows",
    )
    def clean(pl):
        return spark.createDataFrame(src, "id int, v string")

    return p


def test_second_instance_reads_event_log_and_quarantine(spark, tmp_path):
    """The event log and the quarantine tables are declared with the
    pipeline and its views, so a new instance over the same storage
    reads what an earlier one wrote before it runs itself."""
    root, src = str(tmp_path / "p"), [(1, "ok"), (2, None)]
    _quarantining_pipeline(spark, root, src).run(materialize=["clean"])

    p2 = _quarantining_pipeline(spark, root, src)
    log = {(r["run_id"], r["rule"], r["n_rows"], r["n_failed"])
           for r in p2.event_log().collect()}
    assert log == {(1, "not_null", 2, 1)}
    bad = p2.table("bad_rows").read().collect()
    assert {(r["id"], r["__batch_id"]) for r in bad} == {(2, 1)}


def test_run_ids_continue_across_instances(spark, tmp_path):
    """Run ids come from the logs of the tables that record them: two
    instances run one after the other over one root record runs 1 and
    2, in the event log and as quarantine batch ids."""
    root, src = str(tmp_path / "p"), [(1, "ok"), (2, None)]
    _quarantining_pipeline(spark, root, src).run(materialize=["clean"])
    p2 = _quarantining_pipeline(spark, root, src)
    p2.run(materialize=["clean"])

    assert {r["run_id"] for r in p2.event_log().collect()} == {1, 2}
    bad = p2.table("bad_rows").read().collect()
    assert {r["__batch_id"] for r in bad} == {1, 2}
    assert p2.table("__event_log").txn() == p2.table("bad_rows").txn() == {"run": 2}


def test_lineage_holds_declared_flow_edges_before_a_run(spark, tmp_path):
    """Every declared flow's (source, target) edge is in the lineage
    from the start: append and snapshot flows as well as CDC flows."""
    p = Pipeline(spark, str(tmp_path / "lin"))
    for t in ("silver", "log", "dim"):
        p.create_streaming_table(t)
    p.create_auto_cdc_flow(target="silver", source="changes", keys=["k"], sequence_by="seq")
    p.create_append_flow(target="log", source="events", sequence_by="seq")
    p.create_auto_cdc_from_snapshot_flow(target="dim", source="snap", keys=["k"])
    assert p.lineage() == {("changes", "silver"), ("events", "log"), ("snap", "dim")}


def test_snapshot_flow_writes_one_table_per_run(spark, tmp_path, monkeypatch):
    """A snapshot flow's previous snapshot is its target, so each run
    commits to the target alone and the storage root holds nothing but
    the targets."""
    from databricks_end_to_end_lakeflow_project_spark.operators.cdc import (
        ManagedParquetTable,
    )

    committed = []
    publish = ManagedParquetTable._publish

    def recording(self, *args, **kwargs):
        committed.append(os.path.basename(self.path))
        return publish(self, *args, **kwargs)

    monkeypatch.setattr(ManagedParquetTable, "_publish", recording)
    root = str(tmp_path / "pipe")
    holder = {"rows": [("A", 1), ("B", 9)]}
    p = Pipeline(spark, root)

    @p.view(name="snap")
    def _snap(pl):
        return spark.createDataFrame(holder["rows"], "k string, val int")

    for target, scd_type in (("dim_hist", 2), ("dim_latest", 1)):
        p.create_streaming_table(target)
        p.create_auto_cdc_from_snapshot_flow(
            target=target, source="snap", keys=["k"], stored_as_scd_type=scd_type
        )
    p.run()
    holder["rows"] = [("A", 2), ("B", 9)]
    p.run()

    assert committed == ["dim_hist", "dim_latest"] * 2
    assert sorted(os.listdir(root)) == ["dim_hist", "dim_latest"]
    assert p.table("dim_hist").txn() == {"snapshot:snap": 2}


# ------------------------------------------------------------ run graph


def test_run_graph_starts_a_task_after_its_dependencies():
    """A task starts only once every task it names has returned; tasks
    with no path between them run at the same time."""
    import threading

    from databricks_end_to_end_lakeflow_project_spark.pipeline.dag import run_graph

    events, both = [], threading.Barrier(2, timeout=10)

    def task(name, meet=False):
        def fn():
            events.append(("start", name))
            if meet:
                both.wait()  # a and b must overlap, or this times out
            events.append(("end", name))
        return fn

    run_graph({
        "c": (task("c"), ["a", "b"]),
        "a": (task("a", meet=True), []),
        "b": (task("b", meet=True), []),
        "d": (task("d"), ["c"]),
    })
    at = {e: i for i, e in enumerate(events)}
    assert at[("start", "c")] > max(at[("end", "a")], at[("end", "b")])
    assert at[("start", "d")] > at[("end", "c")]


def test_run_graph_reraises_the_first_failure_and_starts_no_dependent():
    from databricks_end_to_end_lakeflow_project_spark.pipeline.dag import run_graph

    started = []

    def boom():
        raise LookupError("boom")

    with pytest.raises(LookupError, match="boom"):
        run_graph({
            "fails": (boom, []),
            "child": (lambda: started.append("child"), ["fails"]),
            "grandchild": (lambda: started.append("grandchild"), ["child"]),
        })
    assert started == []


@pytest.mark.parametrize("deps, error", [
    ({"a": [], "b": ["a", "nope"]}, KeyError),
    ({"a": ["c"], "b": ["a"], "c": ["b"], "d": []}, ValueError),
])
def test_run_graph_rejects_a_bad_graph_before_any_task_starts(deps, error):
    from databricks_end_to_end_lakeflow_project_spark.pipeline.dag import run_graph

    started = []
    with pytest.raises(error):
        run_graph({n: (lambda n=n: started.append(n), d) for n, d in deps.items()})
    assert started == []


def test_run_graph_returns_results_by_name():
    from databricks_end_to_end_lakeflow_project_spark.pipeline.dag import run_graph

    assert run_graph({"x": (lambda: 1, []), "y": (lambda: "two", ["x"])}) == {
        "x": 1, "y": "two",
    }


def test_cdc_flow_over_an_append_target_is_filled_by_the_first_run(spark, tmp_path):
    """A CDC flow whose source reads an append flow's target sees the
    rows this run appended: the append flows run before any CDC source
    is resolved."""
    rows = [(1, 1, "a"), (2, 1, "b"), (1, 2, "a2")]
    p = Pipeline(spark, str(tmp_path / "p"))

    @p.view(name="events")
    def events(pl):
        return spark.createDataFrame(rows, "k int, seq int, v string")

    @p.view(name="logged")
    def logged(pl):
        return pl.read("log")

    p.create_streaming_table("log")
    p.create_append_flow(target="log", source="events", sequence_by="seq")
    p.create_streaming_table("latest")
    p.create_auto_cdc_flow(target="latest", source="logged", keys=["k"], sequence_by="seq")
    p.run()
    assert p.table("log").rows() == 3
    got = sorted(tuple(r) for r in p.table("latest").read().select("k", "v").collect())
    assert got == [(1, "a2"), (2, "b")]


def test_materialized_view_over_an_append_target_sees_the_run(spark, tmp_path):
    """With no CDC flow, the run still finalizes after its append flows:
    a materialized view over the append target holds this run's rows,
    and the expectation counters of the gated source reach the event
    log as run 1."""
    rows = [(1, "a"), (2, None), (3, "c")]
    p = Pipeline(spark, str(tmp_path / "p"))

    @p.view(name="events", expectations={"v_set": "v IS NOT NULL"}, policy=Policy.DROP)
    def events(pl):
        return spark.createDataFrame(rows, "seq int, v string")

    @p.materialized_view(name="summary")
    def summary(pl):
        return pl.read("log")

    p.create_streaming_table("log")
    p.create_append_flow(target="log", source="events", sequence_by="seq")
    p.run()
    assert sorted(tuple(r) for r in p.table("summary").read().collect()) == [(1, "a"), (3, "c")]
    got = {(r["run_id"], r["dataset"], r["rule"], r["n_rows"], r["n_failed"])
           for r in p.event_log().collect()}
    assert got == {(1, "events", "v_set", 3, 1)}


def test_cdc_flow_tasks_do_not_clash_with_the_run_tasks(spark, tmp_path):
    """A CDC target may take the name of a run task: flow tasks are
    ``flow:<target>``, apart from ``begin`` and ``finalize``."""
    p = Pipeline(spark, str(tmp_path / "p"))

    @p.view(name="src")
    def src(pl):
        return spark.createDataFrame([(1, 1, "a")], "k int, seq int, v string")

    for target in ("begin", "finalize"):
        p.create_streaming_table(target)
        p.create_auto_cdc_flow(target=target, source="src", keys=["k"], sequence_by="seq")
    assert set(p.graph()) == {"begin", "flow:begin", "flow:finalize", "finalize"}
    p.run()
    assert p.table("begin").rows() == p.table("finalize").rows() == 1


def test_read_of_a_table_with_no_commit_names_it(spark, tmp_path):
    import re

    root = str(tmp_path / "empty")
    with pytest.raises(FileNotFoundError, match=re.escape(f"{root}/__event_log has no commit")):
        Pipeline(spark, root).event_log()


def test_a_table_takes_one_cdc_flow(spark, tmp_path):
    """Two CDC flows on one target would race on its commits."""
    p = Pipeline(spark, str(tmp_path / "p"))
    p.create_streaming_table("t")
    p.create_auto_cdc_flow(target="t", source="a", keys=["k"], sequence_by="s")
    with pytest.raises(ValueError, match="already has a CDC flow"):
        p.create_auto_cdc_flow(target="t", source="b", keys=["k"], sequence_by="s")
