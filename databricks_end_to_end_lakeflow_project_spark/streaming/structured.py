"""Structured Streaming execution: watermarked queries, streaming dedup,
custom stateful operators, and upsert sinks.

SURVEY.md §2.9 streaming additions + the reference's streaming surface
re-expressed (S3 streaming scans, S6 append sink with checkpoint, T1
one-shot drains). Everything here runs with ``trigger(availableNow=True)``
— the modern `trigger(once=True)` (`bronze_ingest_autoloader.py:24`) — so
jobs drain what exists and stop, the lakehouse batch-of-streams pattern.

Scale notes: every stateful op here declares a watermark, which is what
bounds state stores at 100 TB (session/dedup state is dropped once the
event-time frontier passes). `foreachBatch` + the CDC merge kernel gives
exactly-once upsert sinks (idempotent merge + checkpointed offsets).
"""

from __future__ import annotations

import os
import tempfile
import uuid
from collections.abc import Callable, Sequence
from typing import Any
from urllib.parse import quote

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

from databricks_end_to_end_lakeflow_project_spark.operators.cdc import ManagedParquetTable
from databricks_end_to_end_lakeflow_project_spark.registry import query
from databricks_end_to_end_lakeflow_project_spark.session import cloned_session
from databricks_end_to_end_lakeflow_project_spark.sources.readers import table_row_count
from databricks_end_to_end_lakeflow_project_spark.sources.scratch import ephemeral_dir
from databricks_end_to_end_lakeflow_project_spark.streaming.windows import tumbling_agg

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def stream_from_dir(
    spark: SparkSession,
    src_dir: str,
    schema: T.StructType = EVENT_SCHEMA,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming scan over a parquet dir (reference S3 analogue)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(src_dir)


ROWS_PER_STATE_PARTITION = 100_000


def state_width(spark: SparkSession, input_rows: int) -> int:
    """Shuffle-partition count for a stateful stream over ``input_rows``
    rows: ``ceil(input_rows / ROWS_PER_STATE_PARTITION)``, at least 1 and
    at most the session's ``spark.sql.shuffle.partitions`` (the global
    default is the cap, never narrowed).

    Every state partition carries a state store whose load and commit in
    each micro-batch cost the same whether it holds 10 keys or 10
    million, so each partition beyond what the rows need is a fixed cost
    per batch. The interval join, swept on 4 vCPU (warmed session, median
    of 3-5 runs, identical rows at every width):

    ==========  =======  =======  =======  =======
    events      width 1  width 2  width 4  width 8
    ==========  =======  =======  =======  =======
    7k          1.32 s   1.43 s   1.78 s   2.24 s
    100k        1.70 s   1.70 s   1.90 s   2.30 s
    400k        2.72 s   2.14 s   2.05 s   2.54 s
    ==========  =======  =======  =======  =======

    so 100k rows per partition is the crossover. At 7k events width 1
    against width 8 cut state commit from 2,529 ms to 125 ms.

    Spark pins the width in the checkpoint's offset metadata when a
    stateful query first starts, and restores it from there on restart,
    so this rule only acts when a checkpoint is created; a restart over
    more rows keeps the recorded width."""
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(1, min(cap, -(-input_rows // ROWS_PER_STATE_PARTITION)))


def sized_session(
    spark: SparkSession, input_rows: int, extra_conf: dict[str, str] | None = None
) -> SparkSession:
    """A ``cloned_session`` whose shuffle width is ``state_width`` of
    ``input_rows``, plus ``extra_conf``; the caller's conf is untouched."""
    width = str(state_width(spark, input_rows))
    return cloned_session(spark, {"spark.sql.shuffle.partitions": width, **(extra_conf or {})})


def run_to_memory(
    stream: DataFrame | Callable[[SparkSession], DataFrame],
    name: str,
    output_mode: str = "append",
    input_rows: int | None = None,
    extra_conf: dict[str, str] | None = None,
    spark: SparkSession | None = None,
) -> DataFrame:
    """Drain a streaming query into an in-memory table and return it as a
    batch DataFrame (test/verification harness).

    ``stream`` is either a streaming DataFrame (drained as-is on its own
    session, no conf overrides allowed) or a BUILDER
    ``SparkSession -> streaming DataFrame``. A stateful stream passes the
    rows it reads as ``input_rows``, and its width is
    ``state_width(spark, input_rows)``; that and ``extra_conf`` require
    the builder form: a streaming query binds its conf from the session
    the plan was built on, so the builder is invoked against a
    ``cloned_session`` carrying the overrides — its own SQLConf, shared
    SparkContext — and the caller's session conf is NEVER touched. (The
    previous save/restore implementation mutated the shared session for
    the duration of the drain; a concurrently-running query could observe
    the overridden values — the exact hazard tests/test_plans.py's conf
    guard bans.)

    The sink's temp view ``name`` is dropped before returning: the
    returned frame is the only handle on the drained rows.
    """
    if callable(stream) and not isinstance(stream, DataFrame):
        if spark is None:
            raise ValueError("the builder form of run_to_memory requires spark=")
        if input_rows is not None:
            session = sized_session(spark, input_rows, extra_conf)
        else:
            session = cloned_session(spark, extra_conf) if extra_conf else spark
        stream_df = stream(session)
    else:
        if input_rows is not None or extra_conf:
            raise ValueError(
                "conf overrides require the builder form: pass a "
                "Callable[[SparkSession], DataFrame] so the plan binds to an "
                "isolated cloned session instead of mutating the shared one"
            )
        stream_df = stream
        session = stream_df.sparkSession
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = session.table(name)
    # the analyzed frame holds the sink itself, so the drained rows stay
    # readable through it; the view would keep them registered (and
    # alive) in the session for as long as the session lives
    session.catalog.dropTempView(name)
    return out


def watermarked_tumbling(stream_events: DataFrame, delay: str = "10 minutes") -> DataFrame:
    """Watermarked 1-hour tumbling aggregation — the same plan as the
    batch `tumbling_agg`, demonstrating Spark's unified API. In append
    mode a window emits once the watermark passes its end (late rows
    beyond ``delay`` are dropped)."""
    return tumbling_agg(stream_events.withWatermark("ts", delay))


def dedup_within_watermark(
    stream_events: DataFrame, keys: Sequence[str], delay: str = "30 minutes"
) -> DataFrame:
    """Streaming exact dedup with bounded state:
    `dropDuplicatesWithinWatermark` keeps a key's fingerprint only until
    the watermark passes, so state does not grow with the stream."""
    return stream_events.withWatermark("ts", delay).dropDuplicatesWithinWatermark(list(keys))


# -- custom stateful operator (applyInPandasWithState) -----------------------

_RUNNING_SCHEMA = "user_id long, n_events long, total_value double"
_STATE_SCHEMA = "n long, total double"


def _running_totals(
    key: tuple[Any, ...],
    batches: Any,
    state: GroupState,
):
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in batches:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]})


def running_totals_per_user(stream_events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running (count, sum) maintained
    across micro-batches via `applyInPandasWithState` — the engine's
    pattern for operators Spark lacks natively (SURVEY §2.9). State is one
    tuple per user; emits the updated running totals each batch."""
    return (
        stream_events.groupBy("user_id")
        .applyInPandasWithState(
            _running_totals,
            outputStructType=_RUNNING_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# -- registry queries: true streaming runs over the sf tables ----------------


def _stream_dir_for(sf_dir: str, table: str) -> str:
    """Spark's file streaming source lists a DIRECTORY; the testdata
    tables are single parquet files. Build (once) a tmp dir holding a
    symlink to the file and stream from that. The dir is keyed by the
    percent-encoded absolute ``sf_dir`` (``/`` and ``%`` escaped), which
    is one flat name per path, so two inputs never share a link."""
    sf_dir = os.path.abspath(sf_dir)
    key = quote(sf_dir, safe="")
    base = os.path.join(tempfile.gettempdir(), "lakeflow_streams", key, table)
    os.makedirs(base, exist_ok=True)
    link = os.path.join(base, f"{table}.parquet")
    src = os.path.join(sf_dir, f"{table}.parquet")
    try:
        os.symlink(src, link)  # races with a concurrent process are benign:
    except FileExistsError:   # both link the same immutable source file
        pass
    return base


_EVENTS_SCHEMA_CACHE: dict[tuple[str, float], T.StructType] = {}

_EVENT_NS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # TIMESTAMP(NANOS) read as raw ns
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def stream_events_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan of the testdata events table, with the same
    timestamp normalization as `sources.readers.read_table` (handles
    both the legacy TIMESTAMP(NANOS)-as-long layout and plain µs
    timestamps, which Spark surfaces as TIMESTAMP_NTZ). The streaming
    source needs an explicit schema, so a batch read probes the file's
    actual physical layout first."""
    from databricks_end_to_end_lakeflow_project_spark.sources.readers import (
        ensure_nanos_as_long,
    )

    src = os.path.join(sf_dir, "events.parquet")
    ensure_nanos_as_long(spark)
    # schema PROBE memoized per (path, mtime): pure file metadata (a
    # parquet footer read), never data — every streaming builder paid two
    # footer inferences per invocation before
    key = (src, os.path.getmtime(src))
    schema = _EVENTS_SCHEMA_CACHE.get(key)
    if schema is None:
        schema = spark.read.parquet(src).schema
        _EVENTS_SCHEMA_CACHE[key] = schema
    probe_type = dict((f.name, f.dataType.simpleString()) for f in schema).get("ts")
    if probe_type == "bigint":
        stream = stream_from_dir(
            spark, _stream_dir_for(sf_dir, "events"), schema=_EVENT_NS_SCHEMA
        )
        return stream.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    stream = stream_from_dir(
        spark, _stream_dir_for(sf_dir, "events"), schema=schema
    )
    if probe_type == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


_CENTS_SCHEMA = "user_id long, n_events long, total_cents long"
_CENTS_STATE = "n long, cents long"


def _running_cents(key, batches, state: GroupState):
    """Stateful per-user (count, cent-total): integer state, so results
    commute across any micro-batch split (oracle-exact)."""
    n, cents = state.get if state.exists else (0, 0)
    for pdf in batches:
        n += len(pdf)
        cents += int(pdf["value_cents"].sum())
    state.update((n, cents))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_cents": [cents]})


@query(
    "stream_stateful_totals",
    """
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator end-to-end: events streamed
    through `applyInPandasWithState`, drained with availableNow into a
    memory sink; the last (monotone-max) emission per user equals the
    batch GROUP BY — which is exactly what the oracle computes."""
    def build(s: SparkSession) -> DataFrame:
        stream = stream_events_table(s, sf_dir).withColumn(
            "value_cents", F.round(F.col("value") * 100).cast("long")
        )
        return stream.groupBy("user_id").applyInPandasWithState(
            _running_cents,
            outputStructType=_CENTS_SCHEMA,
            stateStructType=_CENTS_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    drained = run_to_memory(build, f"sst_{uuid.uuid4().hex[:8]}", output_mode="update",
                            input_rows=table_row_count(sf_dir, "events"), spark=spark)
    return drained.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"), F.max("total_cents").alias("total_cents")
    )


@query(
    "stream_watermark_dedup",
    "SELECT DISTINCT user_id, event_type FROM events",
)
def stream_watermark_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dropDuplicatesWithinWatermark` on (user_id, event_type) run as a
    real stream; key columns only are returned (which duplicate's payload
    survives is engine-dependent, the key set is not)."""
    def build(s: SparkSession) -> DataFrame:
        stream = stream_events_table(s, sf_dir)
        return dedup_within_watermark(
            stream, ["user_id", "event_type"], delay="365 days"
        ).select("user_id", "event_type")

    drained = run_to_memory(build, f"swd_{uuid.uuid4().hex[:8]}",
                            input_rows=table_row_count(sf_dir, "events"), spark=spark)
    return drained.distinct()


@query(
    "stream_static_enrich",
    """
    SELECT c.c_mktsegment AS segment, COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the streaming event feed joined to
    a batch dimension (customer → market segment) then aggregated in
    complete mode — the standard lakehouse pattern for enriching a live
    feed against slowly-changing reference data without stream-stream
    state. The static side is re-resolved per micro-batch; it carries NO
    broadcast hint (customer scales with SF — not a bounded class), so
    the micro-batch planner broadcasts it from size stats while small
    and falls back to a shuffle join at dimension scale. Cent-integer
    money keeps the result reduction-order-exact."""
    from databricks_end_to_end_lakeflow_project_spark.sources.readers import read_table

    def build(s: SparkSession) -> DataFrame:
        stream = stream_events_table(s, sf_dir).withColumn(
            "value_cents", F.round(F.col("value") * 100).cast("long")
        )
        cust = read_table(s, sf_dir, "customer").select(
            F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
        )
        return (
            stream.join(cust, "user_id")
            .groupBy("segment")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("value_cents").alias("total_cents"),
            )
        )

    drained = run_to_memory(
        build, f"sse_{uuid.uuid4().hex[:8]}", output_mode="complete",
        input_rows=table_row_count(sf_dir, "events"), spark=spark,
    )
    return drained


# -- exactly-once upsert sink ------------------------------------------------


def stream_upsert_into(
    stream_df: DataFrame,
    table: ManagedParquetTable,
    keys: Sequence[str],
    sequence_by: str,
    checkpoint_dir: str,
) -> None:
    """Stream → SCD1 table: every micro-batch merges through the CDC
    kernel inside `foreachBatch`. Checkpointed offsets + idempotent
    latest-wins merge = exactly-once table state (reference S8 as a
    streaming sink; DLT's APPLY CHANGES execution model)."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        table.upsert(batch_df, keys, sequence_by)

    q = (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _click_purchase_pairs(
    s: SparkSession, sf_dir: str, how: str = "inner"
) -> DataFrame:
    """The watermarked click→purchase interval join, built on the GIVEN
    session (the run_to_memory builder contract — conf overrides bind to
    a cloned session, never the caller's)."""
    clicks = (
        stream_events_table(s, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        stream_events_table(s, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 hour")
    )
    return clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + interval 30 minutes"
        ),
        how,
    )


@query(
    "stream_stream_interval_join",
    """
    SELECT c.user_id, COUNT(*) AS n_attributed
    FROM events c
    JOIN events p ON c.user_id = p.user_id
                 AND p.ts >= c.ts
                 AND p.ts <= c.ts + INTERVAL 30 MINUTE
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    GROUP BY c.user_id
    """,
)
def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join (the true streaming form of
    the reference's business_silver multi-stream join, SURVEY.md §2.3 J1 /
    dlt_bronze_to_silver_pipeline.py:127-131): click→purchase attribution
    — purchases within 30 minutes of a click by the same user.

    Both sides carry a 1-hour watermark and the join condition bounds
    event time on both ends, so Spark can expire join state: state size
    is (watermark + interval) of data per side, not the whole stream —
    the property that makes this viable on an unbounded 100 TB stream.
    Inner join in append mode emits exactly the batch-join result once
    both sides pass the watermark; drained with availableNow, the pair
    set equals the oracle's batch self-join, aggregated per user after
    the drain."""
    # INNER stream-stream joins emit pairs eagerly within the data batch;
    # the trailing no-data micro-batch would only run state eviction, so
    # skipping it (scoped to this drain) cuts ~30% of wall-clock. The
    # LEFT OUTER variant below MUST keep it — that batch is what emits
    # the expired unmatched rows.
    drained = run_to_memory(
        lambda s: _click_purchase_pairs(s, sf_dir),
        f"ssj_{uuid.uuid4().hex[:8]}", input_rows=table_row_count(sf_dir, "events"),
        extra_conf={"spark.sql.streaming.noDataMicroBatches.enabled": "false"},
        spark=spark,
    )
    return drained.groupBy(F.col("c_user").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_attributed")
    )


# -- custom stateful operator (transformWithStateInPandas, Spark 4) ----------

_TWS_OUT = "user_id long, n_events long, n_types long"


class _DistinctTypesProcessor(StatefulProcessor):
    """Per-user running (event count, distinct event-type count) kept in
    typed state stores: a ValueState scalar for the count and a MapState
    keyed by event type as the distinct set (MapState scales to
    unbounded key sets where a ValueState tuple cannot — per-entry
    store access, no full-set rewrite per batch)."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._n = handle.getValueState("n", "n long")
        self._types = handle.getMapState("types", "t string", "seen short")

    def handleInputRows(self, key, rows, timerValues):
        n = (self._n.get() or (0,))[0]
        for pdf in rows:
            n += len(pdf)
            for t in pdf["event_type"].unique():
                if not self._types.containsKey((str(t),)):
                    self._types.updateValue((str(t),), (1,))
        self._n.update((n,))
        n_types = sum(1 for _ in self._types.keys())
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "n_types": [n_types]}
        )

    def close(self) -> None:
        pass


def distinct_types_per_user(stream_events: DataFrame) -> DataFrame:
    """Spark 4 `transformWithStateInPandas` operator: the successor API
    to `applyInPandasWithState` (explicit typed state stores, timers,
    initial-state support). Emits running per-user totals each batch."""
    return stream_events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_DistinctTypesProcessor(),
        outputStructType=_TWS_OUT,
        outputMode="Update",
        timeMode="None",
    )


def tws_available() -> bool:
    """`transformWithStateInPandas` moves state over a protobuf-based
    sidecar protocol; this container ships pyspark 4.1.2 without
    `google.protobuf`, so the API is present but cannot execute. Gate
    (don't fake) — the operator registers no driver query here and its
    test skips when the dependency is absent, per the environment's
    stub-or-gate rule. `applyInPandasWithState` (stream_stateful_totals)
    is the executable custom-stateful path in this environment."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def stream_tws_distinct_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end `transformWithStateInPandas` run: events streamed
    through the MapState/ValueState processor, drained availableNow into
    a memory sink; both emitted counters are monotone, so the max
    emission per user equals the batch GROUP BY
    ``SELECT user_id, COUNT(*), COUNT(DISTINCT event_type) GROUP BY 1``
    (asserted by its gated test rather than a driver oracle — see
    :func:`tws_available`)."""
    # transformWithState requires the RocksDB state store (typed state
    # families aren't supported by the default HDFS-backed provider);
    # the override rides the builder's cloned session — the caller's
    # provider conf is never touched
    drained = run_to_memory(
        lambda s: distinct_types_per_user(stream_events_table(s, sf_dir)),
        f"tws_{uuid.uuid4().hex[:8]}",
        output_mode="update",
        input_rows=table_row_count(sf_dir, "events"),
        extra_conf={
            "spark.sql.streaming.stateStore.providerClass":
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider",
        },
        spark=spark,
    )
    return drained.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"), F.max("n_types").alias("n_types")
    )


def stream_scd2_into(
    stream_df: DataFrame,
    table: ManagedParquetTable,
    keys: Sequence[str],
    sequence_by: str,
    checkpoint_dir: str,
    tiebreakers: Sequence[str] = (),
) -> None:
    """Stream → SCD Type 2 version table: each micro-batch replays
    through `scd2_apply` inside `foreachBatch`. Because scd2_apply
    rebuilds from (current versions ∪ batch) — a lossless encoding of
    the full change history — the result after ANY micro-batching
    equals the one-shot batch build, including retro-insertion of late
    changes across batch boundaries; checkpointed offsets + that
    idempotent rebuild give exactly-once version history."""
    from databricks_end_to_end_lakeflow_project_spark.operators.cdc import scd2_apply

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        scd2_apply(table, batch_df, keys, sequence_by, tiebreakers)

    q = (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


@query(
    "stream_stream_left_outer_join",
    """
    WITH maxts AS (
      -- the global watermark is the MIN across both watermarked streams
      -- (clicks and purchases each track their own max event time), and
      -- Spark carries it in MILLISECONDS: floor before subtracting
      SELECT make_timestamp(LEAST(
               epoch_us(MAX(ts) FILTER (event_type = 'click')),
               epoch_us(MAX(ts) FILTER (event_type = 'purchase'))
             ) // 1000 * 1000) AS mt
      FROM events
    ),
    c AS (
      SELECT user_id AS c_user, ts AS c_ts FROM events
      WHERE event_type = 'click'
    ), p AS (
      SELECT user_id AS p_user, ts AS p_ts FROM events
      WHERE event_type = 'purchase'
    ), j AS (
      SELECT c.c_user, c.c_ts, p.p_user
      FROM c LEFT JOIN p ON c.c_user = p.p_user
                        AND p.p_ts >= c.c_ts
                        AND p.p_ts <= c.c_ts + INTERVAL 30 MINUTE
    )
    SELECT c_user AS user_id,
           CAST(SUM(CASE WHEN p_user IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_matched,
           CAST(SUM(CASE WHEN p_user IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unmatched
    FROM j, maxts
    WHERE p_user IS NOT NULL
       OR c_ts < mt - INTERVAL 90 MINUTE
    GROUP BY c_user
    ORDER BY c_user
    """,
)
def stream_stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join — the semantics the
    inner interval join (`stream_stream_interval_join`) cannot give:
    clicks with NO purchase within 30 minutes are still emitted, but
    only once the watermark proves no match can arrive. Unmatched rows
    materialize when their join state expires (c_ts + 30 min falls
    behind the watermark), so at drain end the newest clicks are
    withheld, not dropped — exactly what a restart would later emit.
    The boundary is subtle and the oracle reproduces it precisely:
    the GLOBAL watermark is the MIN over both input streams' (max
    event time − 1 h), each tracked AFTER its event-type filter and
    floored to Spark's millisecond watermark precision — so eviction
    frees clicks with c_ts < min(max click ts, max purchase ts) − 90
    min. Whichever stream runs "behind" holds the watermark back for
    both — the production reason slow side-streams delay outer-join
    emission.

    Scale: state is bounded to (watermark + interval) of data per side;
    the outer-ness adds only the expiry scan — same shuffle shape as
    the inner join, on the partition count sized for stream volume.
    """
    drained = run_to_memory(
        lambda s: _click_purchase_pairs(s, sf_dir, "left_outer"),
        f"sslo_{uuid.uuid4().hex[:8]}", input_rows=table_row_count(sf_dir, "events"),
        spark=spark,
    )
    return (
        drained.groupBy(F.col("c_user").alias("user_id"))
        .agg(
            F.sum(F.when(F.col("p_user").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_matched"),
            F.sum(F.when(F.col("p_user").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_unmatched"),
        )
        .orderBy("user_id")
    )


@query(
    "stream_join_then_window_agg",
    """
    WITH maxts AS (
      SELECT make_timestamp(LEAST(
               epoch_us(MAX(ts) FILTER (event_type = 'click')),
               epoch_us(MAX(ts) FILTER (event_type = 'purchase'))
             ) // 1000 * 1000) AS mt
      FROM events
    ),
    c AS (
      SELECT user_id AS c_user, ts AS c_ts FROM events
      WHERE event_type = 'click'
    ), p AS (
      SELECT user_id AS p_user, ts AS p_ts FROM events
      WHERE event_type = 'purchase'
    ), j AS (
      SELECT p.p_ts FROM c JOIN p ON c.c_user = p.p_user
                                 AND p.p_ts >= c.c_ts
                                 AND p.p_ts <= c.c_ts + INTERVAL 30 MINUTE
    )
    SELECT make_timestamp(epoch_us(p_ts) // 3600000000 * 3600000000)
             AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM j, maxts
    -- chained-operator emission boundary: the interval join DELAYS the
    -- downstream watermark by its event-time span (p_ts can trail the
    -- join's state frontier by up to 30 min), so a window finalizes only
    -- once window_end <= global_watermark - 30 min
    WHERE make_timestamp(epoch_us(p_ts) // 3600000000 * 3600000000)
            + INTERVAL 1 HOUR
          <= mt - INTERVAL 90 MINUTE
    GROUP BY 1
    ORDER BY 1
    """,
)
def stream_join_then_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO chained stateful operators in ONE streaming query — the
    Spark ≥3.5 multiple-stateful-operator marquee the other entries
    exercise only separately: the watermarked click→purchase interval
    join feeds DIRECTLY into a 1-hour tumbling event-time aggregation
    (attributed purchases per hour), no intermediate sink.

    The subtle semantics this entry pins (empirically verified with
    dense synthetic windows, then encoded in the oracle): the interval
    join DELAYS the watermark it propagates downstream by the join
    condition's event-time span — a joined row with purchase time p_ts
    can still appear while the global watermark is anywhere below
    p_ts + 30 min — so the windowed aggregate finalizes a window only
    when ``window_end <= min(max c_ts, max p_ts) − 1 h − 30 min``. The
    DuckDB oracle reproduces exactly that boundary (90-minute cutoff,
    millisecond-floored watermark), making the drain deterministic.

    Scale: both operators are watermark-bounded — join state is
    (watermark + 30 min) of data per side, window state is the open
    windows within the delayed watermark horizon; one shuffle for the
    join key, one for the window key."""
    drained = run_to_memory(
        lambda s: _click_purchase_pairs(s, sf_dir)
        .groupBy(F.window("p_ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n_pairs")),
        f"jwa_{uuid.uuid4().hex[:8]}", input_rows=table_row_count(sf_dir, "events"),
        spark=spark,
    )
    return drained.select(
        F.col("window.start").alias("window_start"), "n_pairs"
    ).orderBy("window_start")


@query(
    "stream_state_introspection",
    """
    WITH wm AS (
      SELECT make_timestamp(epoch_us(MAX(ts)) // 1000 * 1000)
             - INTERVAL 1 HOUR AS w
      FROM events
    ), g AS (
      SELECT make_timestamp(epoch_us(ts) // 3600000000 * 3600000000) AS ws,
             user_id, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT ws AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(n) AS BIGINT) AS buffered_events
    FROM g, wm
    -- the state store retains exactly the windows the watermark has NOT
    -- yet closed: window_end > watermark (closed windows were emitted
    -- and evicted by the trailing no-data micro-batch)
    WHERE ws + INTERVAL 1 HOUR > wm.w
    GROUP BY ws ORDER BY ws
    """,
)
def stream_state_introspection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 State Data Source (`spark.read.format("statestore")`) —
    operational introspection of a live streaming checkpoint: drain a
    watermarked per-(hour, user) tumbling count over the events stream,
    then read the query's STATE STORE back as a DataFrame and report
    what is still buffered per open window (key count + buffered event
    mass). The DuckDB oracle derives the same content from first
    principles: the state retains exactly the windows the final
    watermark (max event time − 1 h, millisecond-floored) has not
    closed — emitted windows were evicted by the trailing no-data
    micro-batch.

    The debugging/ops surface this exercises — inspecting state size
    and skew per key without stopping the stream — is the production
    answer to 'why is my streaming state growing'; at 100 TB the state
    source reads only the checkpoint's store files (columnar snapshot +
    delta replay), never the input data."""
    ckpt = ephemeral_dir("lakeflow_statesrc_")
    s = sized_session(spark, table_row_count(sf_dir, "events"))
    agg = (
        stream_events_table(s, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.format("noop")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    state = s.read.format("statestore").load(ckpt)
    return (
        state.select(
            F.col("key.window.start").alias("window_start"),
            F.col("value.count").alias("n"),
        )
        .groupBy("window_start")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("n").alias("buffered_events"),
        )
        .orderBy("window_start")
    )
