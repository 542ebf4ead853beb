"""Rate-limited replay harness: re-run a batch table as a genuinely
multi-micro-batch stream.

SURVEY.md §7 step 6. The reference's production pattern is incremental
arrival — Auto Loader discovers new files per run and APPLY CHANGES merges
each batch (`bronze_ingest_autoloader.py:15-28`,
`dlt_bronze_to_silver_pipeline.py:30-36`). The testdata tables are single
parquet files, which Spark's file source drains in ONE micro-batch — so a
plain stream never exercises cross-batch state, merge ordering, or
checkpoint recovery. This harness manufactures real incrementality:

1. `prepare_replay` range-partitions a table by event time into N files
   (one time-slice per file, written once per (sf_dir, table, slices));
2. `replay_stream` streams that directory with ``maxFilesPerTrigger=1``,
   yielding one micro-batch per slice in event-time order — a
   deterministic, rate-limited replay of history.

Range-partitioning by the sequence column also pins any sequence ties into
the SAME slice, so per-batch tiebreakers keep the whole replay
deterministic (cluster- and oracle-reproducible).

Scale notes (100 TB): replay rate is governed by file granularity —
`maxFilesPerTrigger` (or `maxBytesPerTrigger`) bounds per-batch input, so
executor memory needs are independent of history length; state stays
bounded because each batch merges into the managed table rather than
accumulating in the stream.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databricks_end_to_end_lakeflow_project_spark.operators.cdc import (
    ManagedParquetTable,
    latest_by_key,
)
from databricks_end_to_end_lakeflow_project_spark.registry import query
from databricks_end_to_end_lakeflow_project_spark.sources.readers import (
    read_spark_parquet,
    read_table,
    table_row_count,
)
from databricks_end_to_end_lakeflow_project_spark.streaming.structured import sized_session


def prepare_replay(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    slices: int,
    order_by: str = "ts",
) -> str:
    """Materialize ``table`` as ``slices`` event-time-range parquet files
    under a tmp dir; returns the dir. Idempotent per (sf_dir, table,
    slices) — the prepared dir is reused across runs WITHIN a process
    (pid-unique scratch: concurrent processes must not overwrite a dir
    the other is mid-read on; scratch.py prunes dead pids' leftovers and
    removes this process's dirs at exit)."""
    from databricks_end_to_end_lakeflow_project_spark.sources.scratch import (
        pid_scratch_dir,
    )

    out = pid_scratch_dir("lakeflow_replay", sf_dir, f"{table}_{slices}")
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return out
    df = read_table(spark, sf_dir, table)
    # repartitionByRange: slice i holds a contiguous time range; equal
    # order_by values land in one slice (determinism under per-batch ties)
    df.repartitionByRange(slices, F.col(order_by)).write.mode("overwrite").parquet(out)
    return out


def replay_stream(
    spark: SparkSession, replay_dir: str, files_per_trigger: int = 1
) -> DataFrame:
    """Stream the prepared dir, ``files_per_trigger`` slices per
    micro-batch (the rate limit)."""
    schema = read_spark_parquet(spark, replay_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(replay_dir)
    )


def replay_scd1(
    spark: SparkSession,
    sf_dir: str,
    slices: int = 8,
    keys=("user_id",),
    sequence_by: str = "ts",
    tiebreaker: str = "event_id",
) -> tuple[ManagedParquetTable, int]:
    """The reference's full incremental loop, replayed: events arrive one
    time-slice per micro-batch; each batch is deduped to latest-per-key
    (W1) and merged into a managed SCD1 table (S8) via ``foreachBatch``.
    Returns (table, micro-batch count) — the count proves the replay was
    actually incremental, the table must equal latest-per-key over ALL
    history regardless of the slicing.
    """
    replay_dir = prepare_replay(spark, sf_dir, "events", slices, order_by=sequence_by)
    # the replay executes eagerly on an isolated clone sized from the
    # table it replays (the caller's conf is never touched)
    spark = sized_session(spark, table_row_count(sf_dir, "events"))
    run = uuid.uuid4().hex[:8]
    table = ManagedParquetTable(
        spark,
        os.path.join(tempfile.gettempdir(), "lakeflow_replay_out", f"scd1_{run}"),
        keys=list(keys),
        sequence_by=sequence_by,
    )
    batches: list[int] = []

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        batches.append(batch_id)
        resolved = latest_by_key(batch_df, list(keys), [sequence_by], [tiebreaker])
        table.upsert(resolved)

    q = (
        replay_stream(spark, replay_dir)
        .writeStream.foreachBatch(_apply)
        .option(
            "checkpointLocation",
            os.path.join(tempfile.gettempdir(), "lakeflow_replay_out", f"ckpt_{run}"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return table, len(batches)


@query(
    "stream_replay_scd1",
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
def stream_replay_scd1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-limited streaming replay of the events table through the
    incremental SCD1 loop (8 micro-batches of one time-slice each); the
    final table state must equal latest-event-per-user over all of
    history — exactly what the oracle computes in one window."""
    table, _ = replay_scd1(spark, sf_dir, slices=8)
    return table.read().select("user_id", "event_type", "ts", "value")
