"""SparkSession factory tuned for this engine.

Local mode is the test/bench harness; the configs are chosen so the same
logical plans scale to a real cluster: AQE owns runtime re-planning
(partition coalescing, skew-join splitting), shuffle partitions default to
the local core count instead of 200, and the session timezone is pinned to
UTC so results hash-match the DuckDB oracle (duckdb timestamps are
UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# The runtime confs every registry query pins on whatever session it is
# handed (`registry._pin_session`) and every cloned session copies from
# its caller: UTC, so timestamp values match the UTC-naive DuckDB oracle;
# ANSI, the semantics every oracle was written against; and the
# partition-discovery threshold, because a managed table is read as the
# explicit file list of its log entry and Spark lists more paths than the
# threshold (default 32) with a Spark job. `get_spark` builds its
# sessions with them.
PINNED_CONF = (
    ("spark.sql.session.timeZone", "UTC"),
    ("spark.sql.ansi.enabled", "true"),
    ("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024"),
)


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Driver heap when ``SPARK_GRAFT_DRIVER_MEM`` is unset:
    ``min(24g, MemTotal/2)``. A local-mode JVM holds the whole engine, and
    a heap larger than the host lets it grow until the kernel's OOM
    killer ends it; half the host leaves room for the Python workers.
    Falls back to 24g where ``meminfo`` cannot be read."""
    try:
        with open(meminfo) as fh:
            kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return "24g"
    mb = kb // 2048
    return "24g" if mb >= 24 * 1024 else f"{mb}m"


def get_spark(
    app_name: str = "lakeflow-spark",
    *,
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Parameters mirror what a cluster deployment would externalize: core
    count only matters for ``local[N]``; everything else carries over to a
    multi-executor cluster unchanged.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        # file-split size: at 100 TB this bounds scan-task size; 128m default
        # is right for parquet, keep explicit so it is a deliberate choice.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # INT96, the default, keeps no min/max in the footer; INT64
        # microseconds do, so high-water marks read with no job
        # (`sources.readers.spark_parquet_max`)
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    )
    for k, v in (*PINNED_CONF, *(extra_conf or {}).items()):
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Read the standard parquet tables from a scale-factor dir and register
    them as temp views; returns {name: DataFrame}."""
    names = names or [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]
    out = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            from databricks_end_to_end_lakeflow_project_spark.sources.readers import read_table

            df = read_table(spark, sf_dir, name)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out


def cloned_session(spark: SparkSession, conf: dict[str, str]) -> SparkSession:
    """A sibling session sharing the SparkContext (and cache) but with its
    OWN SQLConf and temp-view catalog — for eager fixture-scale sections
    that want e.g. a small shuffle width WITHOUT mutating the caller's
    session. Two registry queries running concurrently in one session must
    never observe each other's conf; ``spark.conf.set`` inside a query body
    is banned (tests/test_plans.py guard) and this is the replacement.

    The pinned confs (`PINNED_CONF`) are copied from the caller so plans
    built on the clone hash-match the oracle exactly like plans built on
    the original.
    """
    s = spark.newSession()
    for k, _ in PINNED_CONF:
        s.conf.set(k, spark.conf.get(k))
    # the events-table reader pins this on whatever session reads it, but
    # carrying the caller's value over avoids a re-probe on the clone
    nanos = "spark.sql.legacy.parquet.nanosAsLong"
    try:
        s.conf.set(nanos, spark.conf.get(nanos))
    except Exception:
        pass  # unset on the caller — leave the clone at the default
    for k, v in conf.items():
        s.conf.set(k, v)
    return s


def persist_once(df):
    """``df.persist()`` unless the CacheManager already holds an entry for
    the same CANONICALIZED plan. ``DataFrame.is_cached`` is object-local
    (a fresh identical plan reports False), but the CacheManager matches
    by canonical plan — so a query invoked twice in one session (the
    bench harness runs each query twice and clears cache per query, not
    per run) would re-persist its intermediates and log
    ``CacheManager: Asked to cache already cached data``. Skipping the
    persist is safe: plan-cache substitution applies to ANY matching
    subtree at planning time, so the second run still reads the first
    run's cache entry.

    The CacheManager probe reaches through py4j internals that exist only
    on classic JVM-local sessions (``_jsparkSession`` is absent under
    Spark Connect and private API everywhere) — so it is best-effort: any
    failure to reach the JVM handle falls back to a plain ``persist()``,
    which is always correct (the skip is purely a log-noise/refcount
    optimization)."""
    try:
        jspark = df.sparkSession._jsparkSession
        cached = (
            jspark.sharedState().cacheManager().lookupCachedData(df._jdf).isDefined()
        )
    except Exception:  # Spark Connect / API drift: probe unavailable
        cached = False
    if cached:
        return df
    return df.persist()
