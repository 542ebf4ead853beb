"""Batch table readers for the standard testdata layout.

One quirk handled here centrally: ``events.parquet`` is written with
nanosecond timestamps (Parquet TIMESTAMP(NANOS)), which Spark rejects by
default. We read them as longs (legacy conf) and convert ns → µs
timestamps, matching DuckDB's ns→µs truncation so oracle hashes agree.
"""

from __future__ import annotations

import json
import os
import tempfile
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def ensure_nanos_as_long(spark: SparkSession) -> None:
    """Pin ``spark.sql.legacy.parquet.nanosAsLong=true`` on the session.

    The ONE sanctioned session-conf write reachable from query bodies
    (``MONOTONE_CONF_HELPERS`` in tests/test_plans.py): it writes a single
    CONSTANT value and is never restored or unset, so it is monotone —
    every concurrent query observes either the default or ``true``, and
    every reader of the events table calls this before its first scan.
    A save/restore or variable-value write here would reintroduce the
    cross-query conf race the guard exists to ban; route those through
    ``session.cloned_session`` instead.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def read_seed_rows(
    sf_dir: str,
    name: str,
    columns: list[str],
    id_col: str,
    lo: int | None = None,
    hi: int | None = None,
    eq: int | None = None,
) -> list[dict]:
    """Driver-side keyed fetch of a BOUNDED seed/query slice of a table
    (e.g. the query embedding ``vec_id = 0``, the 8 IVF seed centroids
    ``vec_id < 8``) straight off the parquet file with pyarrow.

    Replaces the ``df.filter(key).collect()`` pattern in query builders:
    the values are identical (same file, same columns, file order), but
    no Spark job is scheduled — at bench scale each such collect costs a
    full job round trip for a handful of rows, and several headline
    builders paid 1-2 of them before the measured plan even existed.
    Predicate + column pushdown (``filters=``) keeps this a row-group-
    pruned metadata-sized read even on a huge table, the same access
    pattern a keyed side-input fetch uses at 100 TB. Recomputed from the
    input directory on every call — nothing is memoized across runs.
    """
    import pyarrow.parquet as pq

    if eq is not None:
        filters = [(id_col, "=", eq)]
    else:
        filters = []
        if lo is not None:
            filters.append((id_col, ">=", lo))
        if hi is not None:
            filters.append((id_col, "<", hi))
    path = os.path.join(sf_dir, f"{name}.parquet")
    t = pq.read_table(path, columns=columns, filters=filters or None)
    return t.to_pylist()


def table_row_count(sf_dir: str, name: str) -> int:
    """Exact row count of ``{sf_dir}/{name}.parquet`` from the parquet
    FOOTER (pyarrow metadata read) — identical to ``COUNT(*)`` over the
    table, with no Spark job. Metadata only, re-read on every call."""
    import pyarrow.parquet as pq

    return pq.read_metadata(os.path.join(sf_dir, f"{name}.parquet")).num_rows


_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _hidden(name: str) -> bool:
    # Spark's listing filter: `_x=1` is a partition dir, not a marker
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _data_files(path: str, recursive: bool) -> list[str] | None:
    """The data files Spark's listing of ``path`` reads, skipping the
    hidden names it skips; None for a partitioned directory (a visible
    subdir without ``recursive``)."""
    files = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        if dirs and not recursive:
            return None
        files += [os.path.join(root, f) for f in names if not _hidden(f)]
    return files


def spark_parquet_file_rows(path: str) -> dict[str, int]:
    """Row count of every data file under a parquet directory Spark
    wrote, by path relative to it, from the footers (pyarrow metadata
    reads, no Spark job); {} for a missing or empty directory."""
    import pyarrow.parquet as pq

    return {
        os.path.relpath(f, path): pq.read_metadata(f).num_rows
        for f in _data_files(path, True)
    }


def _footer_max_type(col) -> bool:
    """Whether a column's footer max is a value Spark's MAX equals: a
    plain or signed integer, or a UTC-adjusted TIMESTAMP_MICROS (whose
    physical INT64 is microseconds since the epoch)."""
    lt = json.loads(col.logical_type.to_json())
    if col.physical_type in ("INT32", "INT64") and lt["Type"] in ("None", "Int"):
        return lt.get("isSigned", True)
    return (
        col.physical_type == "INT64"
        and lt["Type"] == "Timestamp"
        and lt["timeUnit"] == "microseconds"
        and lt["isAdjustedToUTC"]
    )


def spark_parquet_max(path: str | Sequence[str], column: str) -> int | None:
    """MAX of a top-level integer or timestamp column over the data files
    Spark wrote — every one under a directory ``path``, or the files
    listed (a managed table's `files`) — taken from the row-group
    statistics in the footers (pyarrow metadata reads, no Spark job).
    Delta answers the same MAX from the statistics in its log.

    Returns the physical value: the integer, or for a timestamp its
    microseconds since the epoch (``F.timestamp_micros`` turns it into the
    literal without a Python timezone conversion). None when the column
    holds no non-null value: all null, an empty table, a missing directory.

    Raises LookupError when the footers cannot answer: a file without the
    column, another type (INT96 timestamps, which is how Spark writes them
    unless ``spark.sql.parquet.outputTimestampType`` says otherwise), or a
    non-empty row group with neither min/max nor an all-null count."""
    import pyarrow.parquet as pq

    best = None
    for f in _data_files(path, True) if isinstance(path, str) else path:
        md = pq.read_metadata(f)
        cols = [md.schema.column(i) for i in range(md.num_columns)]
        i = next((i for i, c in enumerate(cols) if c.path == column), None)
        if i is None or not _footer_max_type(cols[i]):
            raise LookupError(f"{f}: no footer max for column {column!r}")
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            if rg.num_rows == 0:
                continue
            st = rg.column(i).statistics
            if st is not None and st.has_min_max:
                best = st.max_raw if best is None else max(best, st.max_raw)
            elif st is None or not st.has_null_count or st.null_count != rg.num_rows:
                raise LookupError(f"{f}: row group {g} has no statistics for {column!r}")
    return best


def read_spark_parquet(
    spark: SparkSession,
    path: str,
    recursive: bool = False,
    files: Sequence[str] | None = None,
) -> DataFrame:
    """Read a parquet directory Spark wrote, with the schema Spark stored
    in its footer (the ``org.apache.spark.sql.parquet.row.metadata`` key),
    taken by one pyarrow metadata read on the driver. A plain
    ``read.parquet`` blocks on a one-task footer job before any plan
    exists; Delta avoids it by keeping the schema in its log, and this is
    the same shortcut.

    Spark's own inference (``mergeSchema`` off) reads one footer: that of
    the first data file sorted by path, skipping the hidden names its
    listing skips. This reads the same file, so the schema is the one
    inference would give. Falls back to inference when there is no data
    file (Spark raises as before), the file lacks the key (pyarrow-written
    inputs), or, without ``recursive``, the directory has a visible
    subdir (a partitioned table, whose partition-column types only
    inference derives from the directory names).

    ``files`` reads exactly those files under ``path`` instead of listing
    it (a managed table's log names them): partition columns come from
    their hive-style paths below ``path``, and the footer schema holds
    for a partitioned table too. Spark lists explicit paths with a job
    above ``spark.sql.sources.parallelPartitionDiscovery.threshold``,
    which `session.get_spark` raises."""
    import pyarrow.parquet as pq

    reader = spark.read
    if files is not None:
        reader, paths = reader.option("basePath", path), sorted(files)
    else:
        if recursive:
            reader = reader.option("recursiveFileLookup", "true")
        paths, files = [path], _data_files(path, recursive)
    if not files:
        return reader.parquet(*paths)
    try:
        stored = (pq.read_metadata(min(files)).metadata or {}).get(_SPARK_ROW_METADATA)
    except (OSError, ValueError):
        return reader.parquet(*paths)
    if stored is None:
        return reader.parquet(*paths)
    return reader.schema(T.StructType.fromJson(json.loads(stored))).parquet(*paths)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read ``{sf_dir}/{name}.parquet`` with engine-standard normalization."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        ensure_nanos_as_long(spark)
        df = spark.read.parquet(path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # integer division: ns values exceed 2^53, double division
            # would round the microsecond (seen live as ±1 µs vs DuckDB)
            df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
        elif ts_type == "timestamp_ntz":
            # µs parquet timestamps arrive as TIMESTAMP_NTZ; with the
            # session pinned to UTC this cast is value-preserving and
            # restores the TIMESTAMP type the operator suite (and the
            # DuckDB oracle's naive-epoch arithmetic) expects
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)


# ---------------------------------------------------------------------------
# source-format breadth: JSON-lines and ORC round trips
# ---------------------------------------------------------------------------

from databricks_end_to_end_lakeflow_project_spark.registry import query  # noqa: E402
from databricks_end_to_end_lakeflow_project_spark.sources.scratch import (  # noqa: E402
    pid_model_dir,
)


def _roundtrip_dir(sf_dir: str, fmt: str) -> str:
    # pid-unique scratch: a concurrent process (driver gate + local
    # pytest) sharing the dir could overwrite files the other is reading.
    # scratch.py prunes dead processes' leftovers and removes this
    # process's dirs at exit — no unbounded /tmp growth.
    from databricks_end_to_end_lakeflow_project_spark.sources.scratch import (
        pid_scratch_dir,
    )

    return pid_scratch_dir("lakeflow_sources", sf_dir, fmt)


def write_and_read(df: DataFrame, path: str, fmt: str) -> DataFrame:
    """Materialize ``df`` as ``fmt`` (once — reused if present) and read it
    back with the SAME explicit schema, exercising the non-parquet
    source/sink paths. An explicit schema keeps the read one-pass: schema
    inference over JSON is a full extra scan of the data — never let it
    happen on a 100 TB source."""
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        df.write.mode("overwrite").format(fmt).save(path)
    return df.sparkSession.read.format(fmt).schema(df.schema).load(path)


@query(
    "source_json_roundtrip",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type
    """,
)
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source/sink round trip: events → .json files → read with
    explicit schema → aggregate; must equal the same aggregate straight
    off parquet. Timestamps are excluded from the projection — Spark's
    JSON writer serializes millisecond precision, so a µs-precision ts
    column would NOT survive the round trip (a real interchange gotcha
    this query documents by construction)."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    back = write_and_read(ev, _roundtrip_dir(sf_dir, "json"), "json")
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("total_cents"),
        F.countDistinct("user_id").alias("n_users"),
    )


@query(
    "source_orc_roundtrip",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           MIN(ts) AS first_ts,
           MAX(ts) AS last_ts
    FROM events GROUP BY event_type
    """,
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink round trip, timestamps included (ORC stores true
    µs/ns timestamps, unlike JSON): events → .orc → read with schema →
    per-type count + event-time bounds, equal to the parquet-direct
    aggregate."""
    ev = read_table(spark, sf_dir, "events").select("event_id", "event_type", "ts")
    back = write_and_read(ev, _roundtrip_dir(sf_dir, "orc"), "orc")
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


@query(
    "source_csv_roundtrip",
    """
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2)::DOUBLE AS total_bal,
           CAST(SUM(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS null_names,
           CAST(0 AS BIGINT) AS rescued_rows
    FROM customer GROUP BY c_mktsegment
    """,
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source/sink round trip — the reference's raw-ingest format
    (SURVEY.md §2.1 S1): customer → .csv with header → read back with an
    EXPLICIT schema in PERMISSIVE mode plus a `_rescued_data` corrupt-
    record column (the OSS emulation of Auto Loader's rescue, same
    mechanics as streaming/ingest.py) → aggregate; must equal the same
    aggregate straight off parquet, and nothing may land in rescue.

    The explicit schema keeps the read one-pass (CSV inference would scan
    the 100 TB source twice), and the null_names column proves values —
    not just counts — survived the text round trip."""
    cu = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    path = _roundtrip_dir(sf_dir, "csv")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        cu.write.mode("overwrite").option("header", "true").csv(path)
    schema = T.StructType(
        [*cu.schema.fields, T.StructField("_rescued_data", T.StringType())]
    )
    back = (
        spark.read.schema(schema)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_rescued_data")
        .csv(path)
    )
    # the rescue check lives INSIDE the aggregate (Spark forbids plans
    # that reference only the corrupt-record column): the oracle pins
    # rescued_rows to 0, so any schema drift fails the correctness gate
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum(F.col("c_acctbal").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("total_bal"),
        F.sum(F.when(F.col("c_name").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("null_names"),
        F.sum(F.when(F.col("_rescued_data").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("rescued_rows"),
    )


@query(
    "source_text_lines_roundtrip",
    """
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(trim(text), ' '))) AS BIGINT) AS total_tokens
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def source_text_lines_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain-text line source/sink (`spark.read/write.text`) — the format
    raw LLM corpora actually arrive in: each document serialized as one
    tab-delimited `id\\tlang\\ttext` line, read back as a single `value`
    column and re-parsed with JVM string splits. The per-language token
    totals must match the parquet table exactly — the sink neither lost,
    reordered within lines, nor mangled whitespace (a real hazard: text
    sinks have no schema, so corruption is silent).

    Scale notes: text write/read is a narrow per-partition pass (no
    shuffle); the re-parse is two `split` calls inside codegen. At 100 TB
    this is the cheapest possible ingest format — but schemaless, hence
    the checksum-style aggregate."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "lang", "text"
    )
    path = _roundtrip_dir(sf_dir, "textlines")
    line = F.concat_ws("\t", F.col("doc_id"), F.col("lang"), F.col("text"))
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        docs.select(line.alias("value")).write.mode("overwrite").text(path)
    back = spark.read.text(path)
    parts = F.split(F.col("value"), "\t", 3)
    parsed = back.select(
        parts.getItem(1).alias("lang"),
        F.size(F.split(F.trim(parts.getItem(2)), " ")).alias("n_tokens"),
    )
    return (
        parsed.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
        .orderBy("lang")
    )


EXPECTED_MANIFEST = os.path.join(
    # PID-TAGGED path (scratch.pid_model_dir), no sf tag: the DuckDB oracle
    # below names it as a literal captured at import time, the query
    # callable atomically refreshes it for the sf_dir it was just called
    # with, and the driver/check_oracle always run the Spark side before
    # the oracle IN THE SAME PROCESS — so the literal and the export agree
    # at any scale factor, while a concurrent process (pytest vs driver
    # gate) writes its own pid dir and can never clobber this one between
    # the Spark run and the oracle read. The same contract covers every
    # model export (MMR, PQ).
    pid_model_dir(),
    "binaryfile_expected_manifest.parquet",
)


def _write_expected_manifest(sf_dir: str) -> None:
    """Independent ground truth for the binaryFile source: Python's own
    read of the same files (os + hashlib, no Spark involvement), written
    as one parquet via pyarrow with an atomic rename so a concurrent
    reader never sees a torn file."""
    import glob
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    names, lengths, md5s = [], [], []
    for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        with open(p, "rb") as fh:
            b = fh.read()
        names.append(os.path.basename(p))
        lengths.append(len(b))
        md5s.append(hashlib.md5(b).hexdigest())
    tbl = pa.table(
        {
            "file_name": pa.array(names, type=pa.string()),
            "length": pa.array(lengths, type=pa.int64()),
            "content_md5": pa.array(md5s, type=pa.string()),
        }
    )
    os.makedirs(os.path.dirname(EXPECTED_MANIFEST), exist_ok=True)
    tmp = f"{EXPECTED_MANIFEST}.tmp{os.getpid()}"
    pq.write_table(tbl, tmp)
    os.replace(tmp, EXPECTED_MANIFEST)


@query(
    "source_binaryfile_manifest",
    f"""
    SELECT file_name, length, content_md5
    FROM read_parquet('{EXPECTED_MANIFEST}')
    ORDER BY file_name
    """,
)
def source_binaryfile_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`binaryFile` source: ingest raw files as (path, length, content)
    rows — the front door for multimodal corpora (images/audio arrive as
    opaque bytes; operators/multimodal.py takes over from here). Returns
    a deterministic manifest: file name, byte length, and the content's
    md5 — proving the bytes survived the source intact.

    Reduced DuckDB oracle (closing the former rows-only gap): DuckDB 1.0
    has `read_blob` but no `md5(BLOB)`, so the oracle instead reads an
    expected-manifest parquet that THIS callable refreshes from Python's
    own open()/hashlib read of the same files — a ground truth computed
    with zero Spark involvement, compared hash-exactly by the gate.

    Scale notes: binaryFile splits per FILE (content is one column value,
    never split), so parallelism = file count; pair it with
    `compact_small_files`-style batching for billions of small objects,
    and prune with `pathGlobFilter`/`modifiedAfter` options at ingest."""
    _write_expected_manifest(sf_dir)
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(sf_dir)
    )
    return (
        df.select(
            F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
            F.col("length"),
            F.md5(F.col("content")).alias("content_md5"),
        )
        .orderBy("file_name")
    )


@query(
    "source_xml_roundtrip",
    """
    SELECT n_regionkey,
           COUNT(*) AS n_nations,
           STRING_AGG(n_name, ',' ORDER BY n_name) AS nations
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
)
def source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML source/sink roundtrip (Spark 4 built-in `xml` format —
    no external package): the nation dim serialized as `<row>` elements
    and read back with an EXPLICIT schema (schema inference over XML is a
    full extra scan — same rule as JSON). The grouped ordered name list
    must match the parquet table exactly: element order, text content and
    numeric types all survived the markup trip.

    Scale notes: XML is the interchange format of enterprise feeds, not
    an analytics format — ingest it once (row-tag splitting parallelizes
    per file split), convert to parquet, and keep the explicit schema so
    a malformed feed fails loudly instead of inferring garbage."""
    na = spark.read.parquet(os.path.join(sf_dir, "nation.parquet")).select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    path = _roundtrip_dir(sf_dir, "xml")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        na.write.mode("overwrite").format("xml").option("rootTag", "nations").option(
            "rowTag", "nation"
        ).save(path)
    back = (
        spark.read.format("xml")
        .option("rowTag", "nation")
        .schema("n_nationkey long, n_name string, n_regionkey long")
        .load(path)
    )
    return (
        back.groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.concat_ws(",", F.array_sort(F.collect_list("n_name"))).alias("nations"),
        )
        .orderBy("n_regionkey")
    )


@query(
    "source_parquet_merge_schema",
    """
    WITH unioned AS (
      SELECT n_nationkey, n_name, NULL AS n_name_upper
      FROM nation WHERE n_nationkey % 2 = 0
      UNION ALL
      SELECT n_nationkey, n_name, UPPER(n_name) AS n_name_upper
      FROM nation WHERE n_nationkey % 2 = 1
    )
    SELECT COUNT(*) AS n_rows,
           COUNT(n_name_upper) AS n_with_new_col,
           MIN(n_nationkey) AS min_key, MAX(n_nationkey) AS max_key
    FROM unioned
    """,
)
def source_parquet_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: an old writer batch (no ``n_name_upper``)
    and a new writer batch (with it) land in the same parquet directory;
    ``mergeSchema=true`` reconciles the footers so old files surface the
    new column as NULL — the append-only schema-widening contract a
    lakehouse table needs (Delta's `mergeSchema` write option reads the
    same way). The oracle reproduces the union semantics directly.

    Scale: schema merge is a FOOTER operation (per-file metadata, not
    data); the scan itself stays pruned/pushed as usual. At 100 TB keep
    the merged schema in the table catalog instead of re-deriving it
    per read (spark.sql.parquet.mergeSchema re-reads every footer).
    """
    from databricks_end_to_end_lakeflow_project_spark.sources.scratch import (
        ephemeral_dir,
    )

    na = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    root = ephemeral_dir("mergeschema_")
    na.filter(F.col("n_nationkey") % 2 == 0).write.mode("overwrite").parquet(
        os.path.join(root, "t"), compression="snappy"
    )
    na.filter(F.col("n_nationkey") % 2 == 1).withColumn(
        "n_name_upper", F.upper("n_name")
    ).write.mode("append").parquet(os.path.join(root, "t"))
    merged = spark.read.option("mergeSchema", "true").parquet(os.path.join(root, "t"))
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("n_name_upper").alias("n_with_new_col"),
        F.min("n_nationkey").alias("min_key"),
        F.max("n_nationkey").alias("max_key"),
    )
