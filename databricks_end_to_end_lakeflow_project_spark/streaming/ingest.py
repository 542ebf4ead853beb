"""Bronze ingestion: incremental streaming CSV → parquet with checkpointed
exactly-once file discovery and schema-drift rescue.

Re-expression of the reference's Auto Loader bronze job (SURVEY.md §2.1
S1/S6, §2.8 T1-T4; `bronze_ingest_autoloader.py:15-28`):

- incremental new-file discovery  → Structured Streaming file source +
  checkpoint (the OSS equivalent of cloudFiles' ledger);
- one-shot drain                  → ``trigger(availableNow=True)`` (the
  modern form of the reference's ``trigger(once=True)``);
- schema inference + persistence  → inferred once from the files present,
  persisted as JSON at ``schema_dir`` and reused on later runs (the
  cloudFiles ``schemaLocation`` contract);
- schema evolution 'rescue' mode  → PERMISSIVE parsing with a
  ``_rescued_data`` corrupt-record column: rows that do not fit the
  locked-in schema land there instead of failing the stream.

Scale notes: file listing is driver-side but incremental (only new files
per batch); parsing fans out per-file. For 100 TB ingest you shard by
entity dir exactly as the reference fans out one job task per source
(SourceParameters.py) — each entity is an independent stream + checkpoint.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession
from pyspark.sql import types as T

RESCUE_COL = "_rescued_data"


def _schema_path(schema_dir: str) -> str:
    return os.path.join(schema_dir, "schema.json")


def infer_or_load_schema(spark: SparkSession, src_dir: str, schema_dir: str) -> T.StructType:
    """Infer the CSV schema on first contact and persist it; later runs
    reuse the persisted schema so drifting files rescue instead of
    re-inferring (cloudFiles schemaLocation semantics)."""
    os.makedirs(schema_dir, exist_ok=True)
    path = _schema_path(schema_dir)
    if os.path.exists(path):
        with open(path) as fh:
            return T.StructType.fromJson(json.load(fh))
    inferred = (
        spark.read.option("header", "true").option("inferSchema", "true").csv(src_dir).schema
    )
    schema = T.StructType(list(inferred.fields) + [T.StructField(RESCUE_COL, T.StringType(), True)])
    with open(path, "w") as fh:
        json.dump(schema.jsonValue(), fh)
    return schema


INGEST_TIME_COL = "_ingest_time"
INGEST_FILE_COL = "_ingest_file"


def ingest_csv_stream(
    spark: SparkSession,
    src_dir: str,
    target_dir: str,
    checkpoint_dir: str,
    schema_dir: str,
    clock=None,
) -> int:
    """One incremental bronze drain: process files not yet recorded in the
    checkpoint, append to the parquet target, return once drained.

    Every bronze row is stamped with ``_ingest_time`` (the drain time, or
    the injectable ``clock``) and ``_ingest_file`` (source file lineage).
    Downstream CDC flows sequence on ingest time — rows from a later drain
    beat rows from an earlier one, which is what makes base → scd replays
    converge (DLT gets the same property from the Auto Loader commit log).

    Returns the number of micro-batches executed (0 = no new files).
    """
    return drain_ingest_stream(
        start_ingest_csv_stream(
            spark, src_dir, target_dir, checkpoint_dir, schema_dir, clock
        )
    )


def start_ingest_csv_stream(
    spark: SparkSession,
    src_dir: str,
    target_dir: str,
    checkpoint_dir: str,
    schema_dir: str,
    clock=None,
):
    """Start (without awaiting) one availableNow bronze ingest query —
    see `ingest_csv_stream` for the row contract."""
    import pyspark.sql.functions as F

    schema = infer_or_load_schema(spark, src_dir, schema_dir)
    stream = (
        spark.readStream.schema(schema)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", RESCUE_COL)
        .csv(src_dir)
        .withColumn(
            INGEST_TIME_COL,
            F.lit(clock).cast("timestamp") if clock is not None else F.current_timestamp(),
        )
        .withColumn(INGEST_FILE_COL, F.col("_metadata.file_path"))
    )
    query = (
        stream.writeStream.format("parquet")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .option("path", target_dir)
        .start()
    )
    return query


def drain_ingest_stream(query) -> int:
    """Block until an availableNow ingest query drains; return its
    non-empty micro-batch count. Split out so a multi-entity caller can
    START all entity streams first and then await them together —
    per-query startup/commit latency overlaps instead of summing (the
    medallion replay's four entities drain in max() wall, not Σ)."""
    query.awaitTermination()
    progress = query.recentProgress
    return sum(1 for p in progress if p["numInputRows"] > 0)
