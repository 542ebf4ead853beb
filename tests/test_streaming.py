"""Structured Streaming tests: stream == batch for windows, bounded-state
dedup, custom stateful operator across micro-batches, exactly-once upsert
sink."""

from __future__ import annotations

import datetime as dt
import os
import uuid

import pytest
from pyspark.sql import functions as F

from databricks_end_to_end_lakeflow_project_spark.operators.cdc import ManagedParquetTable
from databricks_end_to_end_lakeflow_project_spark.session import cloned_session
from databricks_end_to_end_lakeflow_project_spark.sources.readers import read_table, table_row_count
from databricks_end_to_end_lakeflow_project_spark.streaming import structured as st
from databricks_end_to_end_lakeflow_project_spark.streaming.windows import tumbling_agg


def _ts(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 0, 0) + dt.timedelta(minutes=minute)


@pytest.fixture
def events_dir(spark, tmp_path):
    """Two parquet files (→ two micro-batches with maxFilesPerTrigger=1)."""
    rows1 = [(1, _ts(5), 10, "click", 1.0), (2, _ts(10), 10, "view", 2.0), (3, _ts(65), 20, "click", 3.0)]
    rows2 = [(4, _ts(70), 10, "click", 4.0), (5, _ts(130), 20, "view", 5.0)]
    d = str(tmp_path / "events")
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("append").parquet(d)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(d)
    return d


def test_stream_tumbling_equals_batch_for_closed_windows(spark, events_dir):
    stream = st.stream_from_dir(spark, events_dir)
    name = f"tumbling_{uuid.uuid4().hex[:6]}"
    got = st.run_to_memory(st.watermarked_tumbling(stream), name, output_mode="append")
    batch = tumbling_agg(spark.read.parquet(events_dir))
    got_rows = sorted(map(tuple, got.collect()))
    batch_rows = sorted(map(tuple, batch.collect()))
    # append mode emits a window only once the watermark passes its end:
    # the final window (containing the max event time) stays open forever
    # in a finite stream, so streamed == batch minus that trailing window
    max_start = max(r[0] for r in batch_rows)
    closed = [r for r in batch_rows if r[0] < max_start]
    assert got_rows == closed
    assert len(batch_rows) - len(got_rows) == 1


def test_dedup_within_watermark(spark, tmp_path):
    d = str(tmp_path / "dups")
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    rows = [(1, _ts(0), 1, "a", 1.0), (1, _ts(1), 1, "a", 1.0), (2, _ts(2), 1, "b", 2.0)]
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(d)
    stream = st.stream_from_dir(spark, d)
    out = st.run_to_memory(
        st.dedup_within_watermark(stream, ["event_id"]), f"dedup_{uuid.uuid4().hex[:6]}"
    )
    assert out.count() == 2
    assert sorted(r["event_id"] for r in out.collect()) == [1, 2]


@pytest.mark.parametrize("form", ["builder", "dataframe"])
def test_run_to_memory_drops_its_sink_view(spark, events_dir, form):
    name = f"drained_{form}_{uuid.uuid4().hex[:6]}"
    if form == "builder":
        # input_rows routes the build through a cloned session
        out = st.run_to_memory(
            lambda s: st.stream_from_dir(s, events_dir), name, input_rows=5, spark=spark
        )
    else:
        out = st.run_to_memory(st.stream_from_dir(spark, events_dir), name)
    assert name not in {t.name for t in out.sparkSession.catalog.listTables()}
    assert sorted(r["event_id"] for r in out.collect()) == [1, 2, 3, 4, 5]
    assert out.agg(F.sum("value")).first()[0] == 15.0


def test_stateful_running_totals_across_batches(spark, events_dir):
    # force 2 micro-batches so state must carry across them
    stream = st.stream_from_dir(spark, events_dir, max_files_per_trigger=1)
    out = st.run_to_memory(
        st.running_totals_per_user(stream), f"state_{uuid.uuid4().hex[:6]}", output_mode="update"
    )
    rows = out.collect()
    # final (latest) emission per user must equal the full-data totals
    final = {}
    for r in rows:
        final[r["user_id"]] = (r["n_events"], r["total_value"])
    assert final[10] == (3, 7.0)  # 1.0 + 2.0 + 4.0
    assert final[20] == (2, 8.0)  # 3.0 + 5.0
    # user 10 appears in both micro-batches → at least 2 emissions
    assert sum(1 for r in rows if r["user_id"] == 10) >= 2


def test_stream_upsert_exactly_once(spark, tmp_path):
    d = str(tmp_path / "changes")
    schema = "key string, val string, seq timestamp"
    rows = [
        ("A", "v1", _ts(0)),
        ("A", "v2", _ts(10)),
        ("B", "v1", _ts(5)),
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(d)
    table = ManagedParquetTable(spark, str(tmp_path / "target"))
    stream = st.stream_from_dir(
        spark, d, schema=spark.read.parquet(d).schema
    )
    ckpt = str(tmp_path / "ckpt")
    st.stream_upsert_into(stream, table, ["key"], "seq", ckpt)
    state = {r["key"]: r["val"] for r in table.read().collect()}
    assert state == {"A": "v2", "B": "v1"}
    # re-run with same checkpoint: no new data → state unchanged (exactly once)
    st.stream_upsert_into(stream, table, ["key"], "seq", ckpt)
    state2 = {r["key"]: r["val"] for r in table.read().collect()}
    assert state2 == state


def test_replay_is_rate_limited_and_reaches_batch_state(spark):
    """The replay harness must produce one micro-batch per time-slice
    (real incrementality), and the replayed SCD1 table must equal
    latest-per-key computed in one batch window."""
    from databricks_end_to_end_lakeflow_project_spark.operators.cdc import latest_by_key
    from databricks_end_to_end_lakeflow_project_spark.sources.readers import read_table
    from databricks_end_to_end_lakeflow_project_spark.streaming.replay import replay_scd1

    sf = "/root/testdata/sf0.001"
    table, n_batches = replay_scd1(spark, sf, slices=6)
    assert n_batches == 6
    got = {
        r["user_id"]: (r["ts"], r["value"])
        for r in table.read().collect()
    }
    ev = read_table(spark, sf, "events")
    want = {
        r["user_id"]: (r["ts"], r["value"])
        for r in latest_by_key(ev, ["user_id"], ["ts"], ["event_id"]).collect()
    }
    assert got == want


def test_tws_distinct_types_matches_batch(spark):
    """Spark 4 transformWithStateInPandas (typed ValueState + MapState):
    running per-user (count, distinct-type count) equals the batch GROUP
    BY after a full availableNow drain. Skips where google.protobuf (the
    TWS state-protocol dependency) is absent from the container."""
    import pytest

    from databricks_end_to_end_lakeflow_project_spark.streaming.structured import (
        stream_tws_distinct_types,
        tws_available,
    )

    from databricks_end_to_end_lakeflow_project_spark.sources.readers import read_table

    if not tws_available():
        pytest.skip("google.protobuf unavailable: TWS state protocol cannot run")
    sf = "/root/testdata/sf0.01"
    got = stream_tws_distinct_types(spark, sf)
    ev = read_table(spark, sf, "events")
    want = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("event_type").alias("n_types"),
    )
    assert got.join(want, ["user_id", "n_events", "n_types"]).count() == want.count()


def test_python_streaming_datasource_exactly_once(spark, tmp_path):
    """Spark 4 SimpleDataSourceStreamReader: micro-batches advance the
    {"id": n} offset deterministically; rows are the pure function of the
    id range, so the accumulated sink holds exactly [0, max) with no gaps
    or duplicates even across a checkpointed restart."""
    import time

    from databricks_end_to_end_lakeflow_project_spark.sources.pydatasource import (
        register_tick_stream,
    )

    register_tick_stream(spark)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_once():
        q = (
            spark.readStream.format("synthetic_ticks")
            .option("rows_per_batch", "50")
            .load()
            .writeStream.format("parquet")
            .option("checkpointLocation", ckpt)
            .option("path", out)
            .trigger(processingTime="0 seconds")
            .start()
        )
        deadline = time.time() + 60
        while time.time() < deadline:
            try:
                if spark.read.parquet(out).count() >= 100:
                    break
            except Exception:
                pass
            time.sleep(0.5)
        q.stop()
        q.awaitTermination(30)

    run_once()
    run_once()  # restart from checkpoint — must not re-emit committed ids

    got = [r["tick_id"] for r in spark.read.parquet(out).collect()]
    assert len(got) >= 100
    assert len(set(got)) == len(got), "duplicate ids -> replay broke exactly-once"
    assert set(got) == set(range(max(got) + 1)), "gap in the id sequence"
    sh = spark.read.parquet(out).select("shard").distinct().count()
    assert sh == 16


def test_stream_left_outer_withholds_only_tail_state(spark):
    """Left-outer stream-stream join must equal the batch left join
    except for unmatched clicks in the final (watermark + interval)
    window, which remain in state rather than being dropped."""
    import datetime as dt

    from databricks_end_to_end_lakeflow_project_spark.streaming.structured import (
        stream_stream_left_outer_join,
    )
    from databricks_end_to_end_lakeflow_project_spark.sources.readers import read_table
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    got = {r["user_id"]: r for r in stream_stream_left_outer_join(spark, sf).collect()}

    ev = read_table(spark, sf, "events")
    # global watermark = min over both streams' max event time (each
    # tracked post-filter), at Spark's ms watermark precision
    maxes = {
        r["event_type"]: r["m"]
        for r in ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type").agg(F.max("ts").alias("m")).collect()
    }
    mts = min(maxes["click"], maxes["purchase"])
    boundary = mts.replace(microsecond=mts.microsecond // 1000 * 1000) - dt.timedelta(minutes=90)
    clicks = [r for r in ev.collect() if r["event_type"] == "click"]
    purchases = [r for r in ev.collect() if r["event_type"] == "purchase"]
    want: dict[int, list[int]] = {}
    for c in clicks:
        n = sum(
            1
            for p in purchases
            if p["user_id"] == c["user_id"]
            and c["ts"] <= p["ts"] <= c["ts"] + dt.timedelta(minutes=30)
        )
        w = want.setdefault(c["user_id"], [0, 0])
        if n:
            w[0] += n
        elif c["ts"] < boundary:
            w[1] += 1
    want = {u: v for u, v in want.items() if v != [0, 0]}
    assert set(got) == set(want)
    for u, (m, um) in want.items():
        assert (got[u]["n_matched"], got[u]["n_unmatched"]) == (m, um), u


def test_stream_scd2_equals_batch_history(spark, tmp_path):
    """Streaming SCD2 sink (foreachBatch + scd2_apply) over multiple
    EVENT-TIME-ORDERED micro-batches must equal the one-shot
    scd2_from_history build, and re-running with the same checkpoint
    must change nothing. (Time-ordered arrival is the production
    file-ingest pattern; arbitrary history shuffling can land a late
    change inside a collapsed run — the documented scd2_apply
    divergence.)"""
    from databricks_end_to_end_lakeflow_project_spark.operators.cdc import (
        ManagedParquetTable,
        scd2_from_history,
    )
    from databricks_end_to_end_lakeflow_project_spark.sources.readers import read_table
    from databricks_end_to_end_lakeflow_project_spark.streaming import structured as stm

    sf = "/root/testdata/sf0.001"
    ev = read_table(spark, sf, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    want = {
        tuple(r)
        for r in scd2_from_history(
            ev, ["user_id"], "ts", tiebreakers=["event_id"]
        ).collect()
    }
    # several micro-batches, split by event-time quartile so batch N's
    # events all precede batch N+1's (the file source batches by
    # modification time; the appends below commit sequentially)
    import pyspark.sql.functions as FF

    src = str(tmp_path / "src")
    qs = ev.approxQuantile("event_id", [0.25, 0.5, 0.75], 0.0)
    bounds = [-1.0, *qs, float("inf")]
    for i in range(4):
        (ev.filter((FF.col("event_id") > bounds[i]) & (FF.col("event_id") <= bounds[i + 1]))
         .coalesce(1).write.mode("append").parquet(src))
    table = ManagedParquetTable(spark, str(tmp_path / "scd2"))
    stream = stm.stream_from_dir(
        spark, src, schema=spark.read.parquet(src).schema, max_files_per_trigger=1
    )
    ckpt = str(tmp_path / "ckpt")
    stm.stream_scd2_into(stream, table, ["user_id"], "ts", ckpt, ["event_id"])
    got = {tuple(r) for r in table.read().select(*[f.name for f in scd2_from_history(ev, ['user_id'], 'ts', tiebreakers=['event_id']).schema.fields]).collect()}
    assert got == want
    stm.stream_scd2_into(stream, table, ["user_id"], "ts", ckpt, ["event_id"])
    again = {tuple(r) for r in table.read().select(*[f.name for f in scd2_from_history(ev, ['user_id'], 'ts', tiebreakers=['event_id']).schema.fields]).collect()}
    assert again == want


def test_chained_window_agg_stream_equals_batch_for_closed_windows(spark, events_dir):
    """Two stateful operators chained in ONE streaming query (hourly agg
    → 6-hour agg over the window column). Append mode emits a 6-hour
    super-window once the watermark passes its end, so a finite stream
    yields batch minus the trailing open super-window."""
    from databricks_end_to_end_lakeflow_project_spark.streaming.windows import (
        chained_window_agg,
    )

    stream = st.stream_from_dir(spark, events_dir)
    name = f"chained_{uuid.uuid4().hex[:6]}"
    got = st.run_to_memory(
        chained_window_agg(stream.withWatermark("ts", "10 minutes")),
        name,
        output_mode="append",
    )
    batch = chained_window_agg(spark.read.parquet(events_dir))
    got_rows = sorted(map(tuple, got.collect()))
    batch_rows = sorted(map(tuple, batch.collect()))
    max_start = max(r[0] for r in batch_rows)
    closed = [r for r in batch_rows if r[0] < max_start]
    assert got_rows == closed


def test_streaming_exact_dedup_index_equals_batch(spark, tmp_path):
    """Continuous curation: a streamed corpus maintains an exact-dedup
    survivor table (keyed on the content fingerprint, smallest doc_id
    wins) across micro-batches via foreachBatch + merge; the final table
    must equal the one-shot batch dedup regardless of arrival order."""
    import pyspark.sql.types as T
    from pyspark.sql import functions as F2
    from databricks_end_to_end_lakeflow_project_spark.operators.textops import tokens

    src = str(tmp_path / "docs_src")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # reverse-ish order across 2 files so the survivor (min doc_id) of at
    # least one fingerprint arrives in the SECOND micro-batch
    docs.orderBy(F2.col("doc_id").desc()).coalesce(1).limit(200).write.mode(
        "overwrite"
    ).parquet(src)
    docs.orderBy("doc_id").coalesce(1).limit(200).write.mode("append").parquet(src)

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    fingerprint = F2.md5(
        F2.array_join(F2.array_sort(F2.array_distinct(tokens(F2.col("text")))), " ")
    )
    stream = (
        st.stream_from_dir(spark, src, schema=schema, max_files_per_trigger=1)
        .select(fingerprint.alias("fp"), "doc_id", "text")
        .withColumn("seq", -F2.col("doc_id"))  # latest-wins ⇒ min doc_id
    )
    table = ManagedParquetTable(
        spark, str(tmp_path / "dedup_index"), keys=["fp"], sequence_by="seq"
    )
    st.stream_upsert_into(stream, table, ["fp"], "seq", str(tmp_path / "ckpt"))

    got = {(r["fp"], r["doc_id"]) for r in table.read().collect()}
    want = {
        (r["fp"], r["min_doc"])
        for r in spark.read.parquet(src)
        .select(fingerprint.alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F2.min("doc_id").alias("min_doc"))
        .collect()
    }
    assert got == want
    assert len(got) < spark.read.parquet(src).count()  # dups were collapsed


def test_jsonsink_abort_leaves_no_visible_output(spark, tmp_path):
    """Two-phase commit: when a task fails, the job aborts and NO part
    file becomes visible — only (cleaned) temps ever existed."""
    import glob

    from databricks_end_to_end_lakeflow_project_spark.sources.pydatasource import (
        SyntheticJsonSinkDataSource,
    )

    spark.dataSource.register(SyntheticJsonSinkDataSource)
    out = str(tmp_path / "sink")

    @F.udf("long")
    def boom(x):
        if x == 7:
            raise ValueError("planted failure")
        return x

    df = spark.range(16).select(boom("id").alias("id")).repartition(4)
    with pytest.raises(Exception):
        df.write.format("jsonsink").option("path", out).mode("append").save()
    assert glob.glob(f"{out}/part-*.jsonl") == []

    # and a clean write into the same dir then succeeds atomically
    spark.range(16).repartition(4).write.format("jsonsink").option(
        "path", out
    ).mode("append").save()
    rows = sum(1 for f in glob.glob(f"{out}/part-*.jsonl") for _ in open(f))
    assert rows == 16


def test_jsonsink_append_never_clobbers_and_overwrite_clears(spark, tmp_path):
    """Published part names carry a job-unique token: a second append job
    into the same directory must ADD its rows (bare part-{i} names would
    silently overwrite the first job's files), and mode("overwrite") must
    clear previously published parts."""
    import glob

    from databricks_end_to_end_lakeflow_project_spark.sources.pydatasource import (
        SyntheticJsonSinkDataSource,
    )

    spark.dataSource.register(SyntheticJsonSinkDataSource)
    out = str(tmp_path / "sink")

    def rows() -> int:
        return sum(1 for f in glob.glob(f"{out}/part-*.jsonl") for _ in open(f))

    spark.range(10).repartition(2).write.format("jsonsink").option(
        "path", out
    ).mode("append").save()
    spark.range(6).repartition(2).write.format("jsonsink").option(
        "path", out
    ).mode("append").save()
    assert rows() == 16
    assert len(glob.glob(f"{out}/part-*.jsonl")) == 4

    spark.range(3).repartition(1).write.format("jsonsink").option(
        "path", out
    ).mode("overwrite").save()
    assert rows() == 3


def test_stream_stream_full_outer_join_subsumes_left_outer(spark):
    """Full-outer stream-stream join = the left-outer result PLUS
    watermark-evicted unmatched purchases. Matched pairs and unmatched
    clicks must coincide exactly with the left-outer drain; the extra
    rows must all be purchase-only and respect the eviction rule (only
    purchases the global watermark has proven unmatchable emit)."""
    sf = "/root/testdata/sf0.001"
    cond = "c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + interval 30 minutes"

    def joined(how):
        def build(s):
            clicks = (
                st.stream_events_table(s, sf)
                .filter(F.col("event_type") == "click")
                .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
                .withWatermark("c_ts", "1 hour")
            )
            purchases = (
                st.stream_events_table(s, sf)
                .filter(F.col("event_type") == "purchase")
                .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
                .withWatermark("p_ts", "1 hour")
            )
            return clicks.join(purchases, F.expr(cond), how)

        return build

    full = st.run_to_memory(
        joined("full_outer"),
        f"ssfo_{uuid.uuid4().hex[:8]}",
        input_rows=table_row_count(sf, "events"),
        spark=spark,
    ).collect()
    left = st.run_to_memory(
        joined("left_outer"),
        f"sslo2_{uuid.uuid4().hex[:8]}",
        input_rows=table_row_count(sf, "events"),
        spark=spark,
    ).collect()

    key = lambda r: (r["c_user"], r["c_ts"], r["p_user"], r["p_ts"])
    full_rows = {key(r) for r in full}
    left_rows = {key(r) for r in left}
    # left-outer result (matches + unmatched clicks) is a strict subset
    assert left_rows <= full_rows
    extras = full_rows - left_rows
    assert extras  # unmatched purchases do exist in this corpus
    assert all(cu is None and ct is None for (cu, ct, _, _) in extras)


def test_join_then_window_agg_boundary(spark, tmp_path):
    """The chained join→window-agg emission boundary: with clicks every
    5 min (purchase 2 min later) the delayed watermark is
    min(max c, max p) − 1 h − 30 min; windows ending at or before it
    emit, later ones are withheld — exactly the oracle's cutoff."""
    import datetime as dt
    import uuid

    from pyspark.sql import functions as F

    from databricks_end_to_end_lakeflow_project_spark.streaming.structured import (
        EVENT_SCHEMA,
        run_to_memory,
    )

    base = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    for m in range(0, 48 * 60, 5):
        t = base + dt.timedelta(minutes=m)
        rows.append((eid, t, 1, "click", 1.0, None)); eid += 1
        rows.append((eid, t + dt.timedelta(minutes=2), 1, "purchase", 1.0, None)); eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    d = str(tmp_path / "ev")
    df.write.parquet(d)
    def build(s):
        stream = s.readStream.schema(EVENT_SCHEMA).parquet(d)
        clicks = (
            stream.filter(F.col("event_type") == "click")
            .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
            .withWatermark("c_ts", "1 hour")
        )
        purch = (
            stream.filter(F.col("event_type") == "purchase")
            .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
            .withWatermark("p_ts", "1 hour")
        )
        pairs = clicks.join(
            purch,
            F.expr("c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + interval 30 minutes"),
        )
        return pairs.groupBy(F.window("p_ts", "10 minutes")).agg(
            F.count(F.lit(1)).alias("n")
        )

    out = run_to_memory(
        build, f"jwab_{uuid.uuid4().hex[:6]}",
        input_rows=len(rows), spark=spark,
    )
    emitted = sorted(r["window"]["end"] for r in out.collect())
    mc = max(r[1] for r in rows if r[3] == "click")
    mp = max(r[1] for r in rows if r[3] == "purchase")
    cutoff = min(mc, mp) - dt.timedelta(minutes=90)
    assert all(we <= cutoff for we in emitted)
    # the last window at or before the cutoff IS emitted (nothing extra withheld)
    assert emitted[-1] > cutoff - dt.timedelta(minutes=10)
    # emitted windows carry EXACTLY the batch-join counts (stream == batch
    # below the cutoff; each purchase matches all clicks in its 30-min past)
    bc = df.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    bp = df.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    batch = (
        bc.join(
            bp,
            F.expr(
                "c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + interval 30 minutes"
            ),
        )
        .groupBy(F.window("p_ts", "10 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    want = {
        (r["window"]["end"], r["n"])
        for r in batch.collect()
        if r["window"]["end"] <= cutoff
    }
    got = {(r["window"]["end"], r["n"]) for r in out.collect()}
    assert got == want


def test_file_stream_replays_in_mtime_order(spark, tmp_path):
    """The stream scale curve (bench.py) stages a time-ordered feed by
    stamping file mtimes in event-time order — valid only because
    Spark's file source, under maxFilesPerTrigger, admits the OLDEST
    files (by modification time) first. Pin that contract: files whose
    mtimes are stamped in REVERSE name order must replay in mtime order,
    not name order."""
    import glob
    import os
    import time
    import uuid

    staged = str(tmp_path / "feed")
    spark.createDataFrame(
        [(i,) for i in range(6)], "v long"
    ).repartitionByRange(6, "v").write.mode("overwrite").parquet(staged)
    parts = sorted(glob.glob(os.path.join(staged, "part-*")))
    assert len(parts) == 6
    # name order ascending v; mtime order DESCENDING v
    base = time.time()
    for i, p in enumerate(parts):
        os.utime(p, (base - i, base - i))

    seen: list[list[int]] = []

    def collect(batch_df, _bid):
        seen.append(sorted(r["v"] for r in batch_df.collect()))

    q = (
        spark.readStream.schema("v long")
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
        .writeStream.foreachBatch(collect)
        .trigger(availableNow=True)
        .queryName(f"mtime_order_{uuid.uuid4().hex[:8]}")
        .start()
    )
    q.awaitTermination()
    flat = [v for batch in seen for v in batch]
    assert flat == [5, 4, 3, 2, 1, 0], f"replay must follow mtime order: {seen}"


# -- state width: sized from input rows, pinned by the checkpoint ------------


@pytest.fixture
def started_queries(monkeypatch):
    """Every stream query started during the test, in any session."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    queries, start = [], DataStreamWriter.start

    def recording_start(writer, *args, **kwargs):
        q = start(writer, *args, **kwargs)
        queries.append(q)
        return q

    monkeypatch.setattr(DataStreamWriter, "start", recording_start)
    return queries


def _state_widths(queries) -> set[int]:
    return {
        op["numShufflePartitions"]
        for q in queries
        for p in q.recentProgress
        for op in p["stateOperators"] or []
    }


def test_state_width_bounds(spark):
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert st.state_width(spark, 0) == 1
    assert st.state_width(spark, 1) == 1
    assert st.state_width(spark, st.ROWS_PER_STATE_PARTITION) == 1
    assert st.state_width(spark, st.ROWS_PER_STATE_PARTITION + 1) == min(2, cap)
    assert st.state_width(spark, 10**15) == cap
    narrow = cloned_session(spark, {"spark.sql.shuffle.partitions": "3"})
    assert st.state_width(narrow, 10**15) == 3
    step = st.ROWS_PER_STATE_PARTITION // 4
    widths = [st.state_width(spark, n) for n in range(0, (cap + 2) * 4 * step, step)]
    assert widths == sorted(widths)
    assert widths[-1] == cap
    # the caller's session keeps its own width
    assert st.sized_session(spark, 1).conf.get("spark.sql.shuffle.partitions") == "1"
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == cap


def test_drain_over_sf0001_runs_at_width_one(spark, sf_dir, started_queries):
    assert st.state_width(spark, table_row_count(sf_dir, "events")) == 1
    got = st.stream_watermark_dedup(spark, sf_dir).collect()
    want = read_table(spark, sf_dir, "events").select("user_id", "event_type").distinct().collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert _state_widths(started_queries) == {1}


def test_restart_keeps_checkpointed_state_width(spark, tmp_path, monkeypatch, started_queries):
    """The width is chosen when the checkpoint is created: a restart over
    enough new rows that ``state_width`` would now pick a wider count
    still runs at the recorded one, and its output equals the batch."""
    monkeypatch.setattr(st, "ROWS_PER_STATE_PARTITION", 100)
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "k long, v long"

    def land(lo: int, hi: int) -> None:
        spark.createDataFrame([(i % 300, i) for i in range(lo, hi)], schema).coalesce(
            1
        ).write.mode("append").parquet(src)

    def drain(input_rows: int) -> None:
        s = st.sized_session(spark, input_rows)
        q = (
            s.readStream.schema(schema).parquet(src)
            .dropDuplicates(["k"])
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    land(0, 50)
    drain(50)
    first = _state_widths(started_queries)
    land(50, 400)
    assert st.state_width(spark, 400) > st.state_width(spark, 50)
    drain(400)
    restarted = _state_widths(started_queries[1:])

    assert first == {st.state_width(spark, 50)} == {1}
    assert restarted == first
    got = sorted(r["k"] for r in spark.read.parquet(out).collect())
    assert got == sorted({i % 300 for i in range(400)})


def test_stream_dirs_of_colliding_flat_names_stay_apart(spark, tmp_path):
    """``x/a_b`` and ``x/a/b`` flatten to the same name under a
    ``/``-to-``_`` key; each must still stream its own events."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    dirs = {str(tmp_path / "x" / "a_b"): [1, 2, 3], str(tmp_path / "x" / "a" / "b"): [7, 8]}
    for d, ids in dirs.items():
        os.makedirs(d)
        pq.write_table(
            pa.table({
                "event_id": pa.array(ids, pa.int64()),
                "ts": pa.array([dt.datetime(2024, 1, 1)] * len(ids), pa.timestamp("us")),
                "user_id": pa.array(ids, pa.int64()),
                "event_type": ["click"] * len(ids),
                "value": [1.0] * len(ids),
            }),
            os.path.join(d, "events.parquet"),
        )
    for d, ids in dirs.items():
        out = st.run_to_memory(
            st.stream_events_table(spark, d).select("event_id"),
            f"dirkey_{uuid.uuid4().hex[:6]}",
        )
        assert sorted(r["event_id"] for r in out.collect()) == ids
