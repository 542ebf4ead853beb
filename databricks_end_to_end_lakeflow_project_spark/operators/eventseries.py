"""Event-series analytics: OHLC resampling, path-transition matrices,
and order-deterministic sequence pattern matching over the `events` table.

Reference parity: the reference's event surface is the booking fact's
`booking_date` time axis (`/root/reference/DatabricksFlightProject/
dlt_bronze_to_silver_pipeline.py:22`); these operators extend that axis
to the event-log shapes a production lakehouse serves (SURVEY.md §2.9
additions). All three are single-shuffle plans keyed on the column a
100 TB event log is naturally partitioned by (`user_id` or
`(event_type, time-bucket)`), so they scale by adding executors — no
driver-side iteration, no Python row loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from databricks_end_to_end_lakeflow_project_spark.functions.compat import asc_seq
from databricks_end_to_end_lakeflow_project_spark.registry import query
from databricks_end_to_end_lakeflow_project_spark.session import persist_once
from databricks_end_to_end_lakeflow_project_spark.sources.readers import read_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


@query(
    "ts_resample_ohlc",
    """
    WITH ranked AS (
      SELECT event_type,
             date_trunc('hour', ts) AS bucket,
             value,
             row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                ORDER BY ts, event_id) AS rn_open,
             row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_close
      FROM events
    )
    SELECT event_type, bucket,
           MAX(CASE WHEN rn_open = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rn_close = 1 THEN value END) AS close,
           COUNT(*) AS n_events
    FROM ranked
    GROUP BY event_type, bucket
    """,
)
def ts_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample the event stream to hourly OHLC bars per event type —
    the classic time-series resample (open = first value in the bucket,
    close = last, by (ts, event_id) order so ties are deterministic).

    Plan shape: both row_number windows share one partitioning
    ((event_type, bucket)), so Catalyst plans a single exchange with two
    sorts, and the following groupBy on the same keys aggregates without
    a second shuffle. At 100 TB the only data movement is the one
    hash-partition on the bucket key; open/close/high/low/count are all
    map-side-combinable after the windows.
    """
    ev = _t(spark, sf_dir, "events").withColumn(
        "bucket", F.date_trunc("hour", F.col("ts"))
    )
    w_open = Window.partitionBy("event_type", "bucket").orderBy("ts", "event_id")
    w_close = Window.partitionBy("event_type", "bucket").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = ev.select(
        "event_type",
        "bucket",
        "value",
        F.row_number().over(w_open).alias("rn_open"),
        F.row_number().over(w_close).alias("rn_close"),
    )
    return ranked.groupBy("event_type", "bucket").agg(
        F.max(F.when(F.col("rn_open") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn_close") == 1, F.col("value"))).alias("close"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "events_path_transitions",
    """
    WITH seq AS (
      SELECT event_type AS src,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
      FROM events
    )
    SELECT src, dst, COUNT(*) AS n_transitions,
           ROUND(COUNT(*)::DOUBLE / SUM(COUNT(*)) OVER (PARTITION BY src), 4)
             AS p_transition
    FROM seq WHERE dst IS NOT NULL
    GROUP BY src, dst
    """,
)
def events_path_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event paths:
    count of each (src → dst) adjacent pair plus the row-normalized
    transition probability.

    The lead() window shuffles once on user_id (the event log's natural
    key); the pair count is a tiny (|types|² rows) aggregate, and the
    row normalization is a window over that already-small frame — at any
    scale the heavy stage is the single user_id exchange.
    """
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    counts = seq.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n_transitions"))
    w_src = Window.partitionBy("src")
    return counts.select(
        "src",
        "dst",
        "n_transitions",
        F.round(
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(w_src),
            4,
        ).alias("p_transition"),
    )


@query(
    "events_funnel_path_match",
    """
    SELECT user_id, COUNT(*) AS path_len,
           CASE WHEN string_agg(event_type, '>' ORDER BY ts, event_id)
                     LIKE '%signup%purchase%'
                THEN 1 ELSE 0 END AS has_funnel
    FROM events GROUP BY user_id
    """,
)
def events_funnel_path_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern detection (MATCH_RECOGNIZE-lite): per user,
    build the time-ordered event-type path and flag whether a `signup`
    is ever followed — at any distance — by a `purchase`.

    Spark's collect_list is partition-order-nondeterministic, so the
    path is made deterministic by collecting (ts, event_id, event_type)
    structs and `array_sort`-ing them (struct comparison is
    lexicographic by field order) before joining the types into the
    path string — the distributed equivalent of DuckDB's ordered
    string_agg. One shuffle on user_id; the pattern test is a scalar
    LIKE on the aggregated row, never on raw events.
    """
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("path_len"),
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "event_type"))
        ).alias("seq"),
    )
    path = F.array_join(
        F.transform(F.col("seq"), lambda x: x["event_type"]), ">"
    )
    return per_user.select(
        "user_id",
        "path_len",
        F.when(path.like("%signup%purchase%"), 1).otherwise(0).alias("has_funnel"),
    )


def late_arrivals(
    ev: DataFrame,
    allowed_lateness: str = "INTERVAL 10 MINUTES",
    shard_col: str | None = None,
) -> DataFrame:
    """Late-data profile over an event frame: replaying the stream in
    arrival order (event_id), an event is 'late' when its event time
    trails the running high-watermark by more than ``allowed_lateness``.

    ``shard_col`` is the scale knob: watermarks are tracked per
    INGESTION SHARD (each shard's arrival order is the sequence its
    writer actually produced), so the running-max window partitions by
    the shard key and parallelizes across shards — the 100 TB shape.
    ``None`` means one global single-writer sequence, computed with
    `scalerank.with_global_running_max` (range-binned prefix maxima +
    partitioned within-bin windows) so even the global replay plans no
    single-partition stage."""
    if shard_col is None:
        from databricks_end_to_end_lakeflow_project_spark.operators.scalerank import (
            with_global_running_max,
        )

        arr = with_global_running_max(
            # bare 3-column scan: rescanning projected parquet beats
            # caching it (persist is for expensive upstreams)
            ev.select("event_type", "ts", "event_id"),
            "event_id",
            "ts",
            "high_water",
            exclusive=True,
            persist_input=False,
        ).select("event_type", "ts", "high_water")
    else:
        w = (
            Window.partitionBy(shard_col)
            .orderBy("event_id")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        arr = ev.select(
            "event_type",
            "ts",
            F.max("ts").over(w).alias("high_water"),
        )
    late = F.col("ts") < F.col("high_water") - F.expr(allowed_lateness)
    return arr.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(late.cast("int")).cast("long").alias("n_late"),
        F.round(F.sum(late.cast("int")).cast("double") / F.count("*"), 4).alias(
            "late_share"
        ),
    )


@query(
    "events_late_arrivals",
    """
    WITH arr AS (
      SELECT event_type, ts,
             MAX(ts) OVER (
               ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS high_water
      FROM events
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN ts < high_water - INTERVAL 10 MINUTE
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
           ROUND(SUM(CASE WHEN ts < high_water - INTERVAL 10 MINUTE
                          THEN 1 ELSE 0 END)::DOUBLE / COUNT(*), 4) AS late_share
    FROM arr
    GROUP BY event_type
    """,
)
def events_late_arrivals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data profile of the single-writer test stream: the batch
    diagnostic that sizes a production watermark — an event is 'late'
    when it trails the running high-watermark by more than the
    10-minute allowed lateness, exactly the rows a `withWatermark("ts",
    "10 minutes")` streaming aggregation would drop.

    Plan note: this registry entry is :func:`late_arrivals` with
    ``shard_col=None`` — one global arrival sequence, which still plans
    PARTITIONED windows: the global running high-watermark comes from
    `scalerank.with_global_running_max` (range-binned prefix maxima +
    within-bin windows), so no single-partition stage exists at any row
    count. Real deployments pass the ingestion-shard key and get
    per-shard watermarks instead of one global sequence."""
    return late_arrivals(read_table(spark, sf_dir, "events"))


@query(
    "events_rate_anomaly",
    """
    WITH w AS (
      SELECT event_id, event_type, value, epoch_us(ts) AS us,
             AVG(value) OVER tw AS mu,
             STDDEV_SAMP(value) OVER tw AS sd
      FROM events
      WINDOW tw AS (
        PARTITION BY event_type ORDER BY epoch_us(ts)
        RANGE BETWEEN 21600000000 PRECEDING AND 1 PRECEDING
      )
    )
    SELECT event_id, event_type, value,
           ROUND((value - mu) / sd, 4) AS zscore
    FROM w
    WHERE sd IS NOT NULL AND sd > 0 AND ABS((value - mu) / sd) > 3
    """,
)
def events_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly detection: per event type, each event's
    value is z-scored against the mean/std of the PRECEDING 6 hours
    (exclusive of the current instant — no self-leakage); |z| > 3 flags
    the anomaly. The streaming-monitor shape run as a batch audit.

    Exactness note: the frame runs over epoch MICROseconds on both
    engines (Spark rangeBetween needs a numeric order key; seconds
    would bucket sub-second neighbors differently than the oracle's
    native-interval frame). One shuffle on event_type; the range frame
    is a single pass over each sorted partition.
    """
    ev = read_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    tw = (
        Window.partitionBy("event_type")
        .orderBy(us.alias("us"))
        .rangeBetween(-21600000000, -1)
    )
    w = ev.select(
        "event_id", "event_type", "value",
        F.avg("value").over(tw).alias("mu"),
        F.stddev_samp("value").over(tw).alias("sd"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sd")
    return (
        w.filter(F.col("sd").isNotNull() & (F.col("sd") > 0) & (F.abs(z) > 3))
        .select("event_id", "event_type", "value", F.round(z, 4).alias("zscore"))
    )


@query(
    "ts_ewma_final",
    """
    WITH s AS (
      SELECT user_id,
             list(value ORDER BY ts, event_id) AS vals
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           LENGTH(vals) AS n_events,
           ROUND(list_reduce(vals, (acc, x) -> 0.3 * x + 0.7 * acc), 6) AS ewma
    FROM s
    """,
)
def ts_ewma_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (α=0.3) of each user's
    event values, reported as the final smoothed level — the classic
    recursive time-series smoother that plain SQL windows cannot express
    (each output depends on the previous OUTPUT, not previous inputs).

    Implemented as an order-pinned fold: collect each user's series as
    `sort_array(collect_list(struct(ts, event_id, value)))`, then
    `F.aggregate` left-folds `y ← 0.3·x + 0.7·y` seeded with the first
    element. DuckDB's `list_reduce` performs the IDENTICAL operation
    sequence in IEEE doubles, so results hash-match exactly.

    Scale: one shuffle on user_id (the event log's natural key); the
    per-user array is bounded by per-entity activity, not corpus size.
    For unbounded per-key series the streaming engine's
    `applyInPandasWithState` totals (stream_stateful_totals) are the
    incremental path — same recurrence, carried as state instead of an
    array.
    """
    ev = _t(spark, sf_dir, "events")
    series = ev.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("s")
    )
    vals = F.transform(F.col("s"), lambda e: e["value"])
    folded = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        lambda acc, x: F.lit(0.3) * x + F.lit(0.7) * acc,
    )
    return series.select(
        "user_id",
        F.size(F.col("s")).alias("n_events"),
        F.round(folded, 6).alias("ewma"),
    )


_PAT = [2.0, 1.0, 0.0, -1.0, -1.0, -1.0]  # spike-then-settle query shape
_PAT_M = len(_PAT)
_PAT_Z = None  # z-normalized at import below


def _znorm(xs: list[float]) -> list[float]:
    mu = sum(xs) / len(xs)
    var = sum((x - mu) ** 2 for x in xs) / len(xs)
    sd = var ** 0.5
    return [(x - mu) / sd for x in xs]


_PAT_Z = _znorm(_PAT)


@query(
    "ts_pattern_search",
    f"""
    WITH s AS (
      SELECT user_id, list(value ORDER BY ts, event_id) AS vals
      FROM events GROUP BY user_id
    ), win AS (
      SELECT user_id, off, vals[off:off + {_PAT_M - 1}] AS w
      FROM s, UNNEST(range(1, LENGTH(vals) - {_PAT_M - 2})) AS t(off)
    ), stats AS (
      SELECT user_id, off, w,
             list_reduce(w, (a, b) -> a + b) / {_PAT_M} AS mu
      FROM win
    ), stats2 AS (
      SELECT user_id, off, w, mu,
             sqrt(list_reduce(list_transform(w, x -> (x - mu) * (x - mu)),
                              (a, b) -> a + b) / {_PAT_M}) AS sd
      FROM stats
    ), scored AS (
      SELECT user_id, off,
             ROUND(list_reduce(
               list_transform(
                 list_zip(w, {_PAT_Z!r}::DOUBLE[]),
                 p -> ((CAST(p[1] AS DOUBLE) - mu) / sd - p[2])
                      * ((CAST(p[1] AS DOUBLE) - mu) / sd - p[2])),
               (a, b) -> a + b), 6) AS zdist
      FROM stats2 WHERE sd > 0
    )
    SELECT user_id, off, zdist
    FROM scored ORDER BY zdist, user_id, off LIMIT 10
    """,
)
def ts_pattern_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subsequence similarity search (UCR-suite style): find the 10
    sliding windows, across every user's event-value series, whose
    Z-NORMALIZED shape best matches a fixed spike-then-settle query
    pattern — shape matching, invariant to each window's own level and
    scale, the time-series-similarity primitive behind motif discovery
    and anomaly matching.

    Plan: one shuffle groups each user's series (bounded by per-entity
    activity); window extraction is a posexplode over offsets + array
    slice; per-window mean/std are MATERIALIZED columns before the
    distance lambda references them (re-evaluating them inside the
    lambda would recompute the fold per element — the documented
    higher-order pitfall); the global top-10 is a
    TakeOrderedAndProject. The oracle replays identical arithmetic via
    DuckDB list folds, so scores hash-match exactly.
    """
    ev = _t(spark, sf_dir, "events")
    series = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("ts", "event_id", "value"))).alias("s")
    )
    vals = F.transform(F.col("s"), lambda e: e["value"])
    win = (
        series.select("user_id", vals.alias("vals"))
        .select(
            "user_id",
            F.posexplode(
                # asc_seq, NOT greatest(...,0): sequence(1,0) is a
                # descending [1,0] in Spark, which would feed slice(vals,0,M)
                # and throw on a series shorter than the pattern window.
                asc_seq(F.lit(1), F.size("vals") - _PAT_M + 1)
            ).alias("i", "off"),
            "vals",
        )
        .select("user_id", "off", F.slice("vals", F.col("off"), _PAT_M).alias("w"))
    )
    mu = (
        F.aggregate("w", F.lit(0.0), lambda a, b: a + b) / _PAT_M
    )
    st1 = win.select("user_id", "off", "w", mu.alias("mu"))
    sd = F.sqrt(
        F.aggregate(
            F.transform("w", lambda x: (x - F.col("mu")) * (x - F.col("mu"))),
            F.lit(0.0),
            lambda a, b: a + b,
        )
        / _PAT_M
    )
    st2 = st1.select("user_id", "off", "w", "mu", sd.alias("sd")).filter(
        F.col("sd") > 0
    )
    pat = F.array(*[F.lit(x) for x in _PAT_Z])
    zdist = F.aggregate(
        F.zip_with(
            "w",
            pat,
            lambda x, q: ((x - F.col("mu")) / F.col("sd") - q)
            * ((x - F.col("mu")) / F.col("sd") - q),
        ),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    return (
        st2.select("user_id", "off", F.round(zdist, 6).alias("zdist"))
        .orderBy("zdist", "user_id", "off")
        .limit(10)
    )


@query(
    "ts_autocorr_lags",
    """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             ROUND(AVG(value), 6) AS v
      FROM events GROUP BY event_type, date_trunc('hour', ts)
    ), lagged AS (
      SELECT event_type, v,
             lag(v, 1) OVER w AS l1,
             lag(v, 2) OVER w AS l2,
             lag(v, 3) OVER w AS l3
      FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY bucket)
    )
    SELECT event_type, lag, ROUND(acf, 4) AS acf FROM (
      SELECT event_type, 1 AS lag, corr(v, l1) AS acf FROM lagged GROUP BY event_type
      UNION ALL
      SELECT event_type, 2 AS lag, corr(v, l2) AS acf FROM lagged GROUP BY event_type
      UNION ALL
      SELECT event_type, 3 AS lag, corr(v, l3) AS acf FROM lagged GROUP BY event_type
    ) ORDER BY event_type, lag
    """,
)
def ts_autocorr_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function at lags 1-3 of each event type's hourly
    mean-value series: resample (one shuffle on a uniform (type, hour)
    key) → per-type ordered window builds the three lagged columns in a
    single pass → stack to (type, lag, pair) rows → co-moment `corr`
    aggregate (partial-aggregatable, one more shuffle on the tiny
    (type, lag) key).

    Scale notes: the window partitions by event_type — hourly resampling
    has already collapsed the data to |types|·|hours| rows, so even a
    year of one-second data is ~10⁴ rows per type; if the per-type
    series itself outgrows a partition, the lag join can be re-expressed
    as a bucket-range self-join on (type, hour)."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(F.round(F.avg("value"), 6).alias("v"))
    w = Window.partitionBy("event_type").orderBy("bucket")
    lagged = hourly.select(
        "event_type",
        "v",
        *[F.lag("v", k).over(w).alias(f"l{k}") for k in (1, 2, 3)],
    )
    stacked = lagged.select(
        "event_type",
        F.expr("stack(3, 1, l1, 2, l2, 3, l3) AS (lag, vlag)"),
        "v",
    )
    return (
        stacked.groupBy("event_type", "lag")
        .agg(F.round(F.corr("v", "vlag"), 4).alias("acf"))
        .orderBy("event_type", "lag")
    )


@query(
    "ts_seasonal_hourly_profile",
    """
    WITH hod AS (
      -- exact integer cents (quantize-before-aggregate): the 4-dp mean
      -- of 2-dp values is a REAL half-way tie for power-of-two bucket
      -- sizes (e.g. 551.43/8 = 68.92875), where Spark's ROUND (shortest
      -- decimal repr, HALF_UP) and DuckDB's (exact double, half away)
      -- disagree by 1e-4 — caught by the round-9 sf0.001 full sweep.
      -- The mean is therefore computed as an integral half-up division
      -- in 10^-4-unit space ((200*sum + n) // (2n), values >= 0), which
      -- is exact in both engines at any reduction order.
      SELECT event_type, EXTRACT(hour FROM ts) AS hour_of_day,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
      FROM events
    ), prof AS (
      SELECT event_type, hour_of_day,
             COUNT(*) AS n,
             CAST((200 * SUM(vc) + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE)
               / 10000 AS seasonal_mean
      FROM hod GROUP BY event_type, hour_of_day
    ), overall AS (
      SELECT event_type,
             CAST((200 * SUM(vc) + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE)
               / 10000 AS level
      FROM hod GROUP BY event_type
    )
    SELECT p.event_type, p.hour_of_day, p.n, p.seasonal_mean,
           ROUND(p.seasonal_mean - o.level, 4) AS seasonal_effect
    FROM prof p JOIN overall o USING (event_type)
    ORDER BY p.event_type, p.hour_of_day
    """,
)
def ts_seasonal_hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical-decomposition seasonal profile: per event type, the
    hour-of-day mean and its effect relative to the series level
    (additive seasonality; subtracting it is the deseasonalizing step
    in front of the anomaly/forecast ops in this family). Two
    partial-aggregatable passes over (type, hour) and (type); the
    profile is 24·|types| rows — broadcastable back onto any stream for
    residual computation at scale."""
    from databricks_end_to_end_lakeflow_project_spark.functions.compat import cents

    ev = _t(spark, sf_dir, "events")
    hod = ev.select(
        "event_type",
        F.hour("ts").alias("hour_of_day"),
        cents(F.col("value")).alias("vc"),
    )
    # exact integral half-up mean in 10^-4-unit space — see the oracle
    # comment (a power-of-two bucket's mean is a REAL .xxxx5 tie that
    # Spark's shortest-repr ROUND and DuckDB's exact-double ROUND split);
    # `div` keeps the division in long arithmetic end to end. The
    # +count(1) half-shift is HALF_UP only for NON-NEGATIVE sums —
    # events.value ≥ 0 is a fixture-contract invariant, pinned at all
    # three oracle SFs by tests/test_eventseries.py::
    # test_events_value_nonnegative_invariant (negative values would
    # still agree across engines — both `div`s truncate — but would
    # round half-toward-zero, not the documented HALF_UP)
    dmean = lambda: (  # noqa: E731
        F.expr("(200 * sum(vc) + count(1)) div (2 * count(1))").cast("double")
        / 10000
    )
    prof = hod.groupBy("event_type", "hour_of_day").agg(
        F.count(F.lit(1)).alias("n"),
        dmean().alias("seasonal_mean"),
    )
    overall = hod.groupBy("event_type").agg(dmean().alias("level"))
    return (
        prof.join(F.broadcast(overall), "event_type")
        .select(
            "event_type", "hour_of_day", "n", "seasonal_mean",
            F.round(F.col("seasonal_mean") - F.col("level"), 4).alias("seasonal_effect"),
        )
        .orderBy("event_type", "hour_of_day")
    )


@query(
    "ts_cusum_drift",
    """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             ROUND(AVG(value), 6) AS v
      FROM events GROUP BY event_type, date_trunc('hour', ts)
    ), stats AS (
      SELECT event_type, ROUND(AVG(v), 4) AS mu, ROUND(STDDEV(v), 4) AS sigma
      FROM hourly GROUP BY event_type
    ), series AS (
      SELECT h.event_type,
             list(ROUND((h.v - s.mu) / s.sigma, 6) ORDER BY h.bucket) AS zs
      FROM hourly h JOIN stats s USING (event_type)
      GROUP BY h.event_type
    )
    SELECT event_type,
           LENGTH(zs) AS n_hours,
           ROUND(list_reduce(list_prepend(0.0, zs),
                 (acc, x) -> GREATEST(0.0, acc + x - 0.5)), 4) AS cusum_pos,
           ROUND(list_reduce(list_prepend(0.0, zs),
                 (acc, x) -> GREATEST(0.0, acc - x - 0.5)), 4) AS cusum_neg
    FROM series ORDER BY event_type
    """,
)
def ts_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift statistic per event type: standardize the hourly mean
    series, then the one-sided cumulative sums S⁺ ← max(0, S⁺ + z − k)
    and S⁻ ← max(0, S⁻ − z − k) with slack k=0.5 — the sequential
    change-detection statistic (large final S⁺/S⁻ = the series ends in
    an upward/downward drift the mean-based z-score test misses).
    Recursive like EWMA, so plain windows cannot express it: the same
    order-pinned fold (`sort_array(collect_list)` + `F.aggregate`, seed
    0) reproduces DuckDB's `list_reduce` operation-for-operation.

    Scale: hourly resample collapses the corpus first; the fold's array
    is |hours| per type. Streaming-incremental CUSUM carries (S⁺, S⁻) as
    two doubles of state per key — `applyInPandasWithState` shape."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(F.round(F.avg("value"), 6).alias("v"))
    stats = hourly.groupBy("event_type").agg(
        F.round(F.avg("v"), 4).alias("mu"),
        F.round(F.stddev("v"), 4).alias("sigma"),
    )
    series = (
        hourly.join(F.broadcast(stats), "event_type")
        .groupBy("event_type")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        "bucket",
                        F.round((F.col("v") - F.col("mu")) / F.col("sigma"), 6).alias("z"),
                    )
                )
            ).alias("s")
        )
    )
    zs = F.transform(F.col("s"), lambda e: e["z"])
    k = F.lit(0.5)

    def cusum(sign: int):
        return F.aggregate(
            zs,
            F.lit(0.0),
            lambda acc, x: F.greatest(F.lit(0.0), acc + F.lit(sign) * x - k),
        )

    return series.select(
        "event_type",
        F.size(zs).alias("n_hours"),
        F.round(cusum(1), 4).alias("cusum_pos"),
        F.round(cusum(-1), 4).alias("cusum_neg"),
    ).orderBy("event_type")


_BOT_MIN_GAPS = 5
_BOT_RATIO_PPM = 1_250_000  # n*Σx²/(Σx)² < 1.25 ⇔ CV² < 0.25 ⇔ CV < 0.5


@query(
    "events_bot_regularity_topk",
    f"""
    WITH ev AS (
      SELECT user_id, epoch_us(ts) // 1000000 AS ts_s FROM events
    ), gaps AS (
      SELECT user_id,
             ts_s - LAG(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s) AS gap
      FROM ev
    ), st AS (
      SELECT user_id, COUNT(gap) AS n_gaps,
             SUM(gap) AS sum_gap, SUM(gap * gap) AS sum_gap_sq
      FROM gaps WHERE gap IS NOT NULL
      GROUP BY user_id
      HAVING COUNT(gap) >= {_BOT_MIN_GAPS} AND SUM(gap) > 0
    )
    SELECT user_id,
           CAST(n_gaps AS BIGINT) AS n_gaps,
           CAST(sum_gap AS BIGINT) AS sum_gap_s,
           CAST(sum_gap_sq AS BIGINT) AS sum_gap_sq,
           CAST(FLOOR(CAST(n_gaps * sum_gap_sq AS DOUBLE) * 1000000.0
                      / CAST(sum_gap * sum_gap AS DOUBLE)) AS BIGINT)
             AS ratio_ppm,
           CAST(FLOOR(CAST(n_gaps * sum_gap_sq AS DOUBLE) * 1000000.0
                      / CAST(sum_gap * sum_gap AS DOUBLE)) AS BIGINT)
             < {_BOT_RATIO_PPM} AS is_regular_bot
    FROM st ORDER BY ratio_ppm, user_id LIMIT 20
    """,
)
def events_bot_regularity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot/automation detection by inter-event regularity — the traffic
    filter a web-crawl curation pipeline runs before user-generated text
    enters the corpus: humans arrive with high gap dispersion (Poisson
    arrivals → CV ≈ 1), schedulers metronome (CV → 0). Per user, the
    squared coefficient of variation of inter-event gaps comes out of
    three integer moments (n, Σgap, Σgap²) as the ratio
    ``n·Σx²/(Σx)²`` (= 1 + CV²), reported in FLOOR'd ppm; the 20 most
    regular users with ≥{_BOT_MIN_GAPS} gaps surface, flagged when
    CV < 0.5.

    Exactness: gaps are integer seconds (micros integer-div 1e6); the
    gap MULTISET of a sorted-by-time sequence is permutation-invariant
    under timestamp ties, so the moments are deterministic without a
    tiebreak column; the single double division mirrors literally.

    Shape: one per-user LAG window (the natural partitioning), a
    per-user 3-moment aggregate — partial-aggregatable, one shuffle on
    user_id that the window already paid — and a TakeOrdered top-20."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", F.expr("unix_micros(ts) div 1000000").alias("ts_s")
    )
    w = Window.partitionBy("user_id").orderBy("ts_s")
    gaps = ev.select(
        "user_id", (F.col("ts_s") - F.lag("ts_s").over(w)).alias("gap")
    ).filter(F.col("gap").isNotNull())
    st = (
        gaps.groupBy("user_id")
        .agg(
            F.count("gap").alias("n_gaps"),
            F.sum("gap").alias("sum_gap"),
            F.sum(F.col("gap") * F.col("gap")).alias("sum_gap_sq"),
        )
        .filter((F.col("n_gaps") >= _BOT_MIN_GAPS) & (F.col("sum_gap") > 0))
    )
    ratio = F.floor(
        (F.col("n_gaps") * F.col("sum_gap_sq")).cast("double")
        * 1000000.0
        / (F.col("sum_gap") * F.col("sum_gap")).cast("double")
    ).cast("long")
    return (
        st.select(
            "user_id",
            F.col("n_gaps").cast("long").alias("n_gaps"),
            F.col("sum_gap").cast("long").alias("sum_gap_s"),
            F.col("sum_gap_sq").cast("long").alias("sum_gap_sq"),
            ratio.alias("ratio_ppm"),
            (ratio < _BOT_RATIO_PPM).alias("is_regular_bot"),
        )
        .orderBy("ratio_ppm", "user_id")
        .limit(20)
    )


@query(
    "ts_seasonal_profile_hourly",
    """
    WITH h AS (
      SELECT CAST(EXTRACT(hour FROM ts) AS INT) AS hour_of_day,
             event_type
      FROM events
    ), cnt AS (
      SELECT hour_of_day, event_type, COUNT(*) AS n FROM h
      GROUP BY hour_of_day, event_type
    ), tot AS (
      SELECT event_type, SUM(n) AS n_type FROM cnt GROUP BY event_type
    )
    SELECT c.hour_of_day, c.event_type, CAST(c.n AS BIGINT) AS n_events,
           CAST(FLOOR(c.n * 1000000 / t.n_type) AS BIGINT) AS share_ppm,
           CAST(FLOOR(c.n * 24000 / t.n_type) AS BIGINT) AS seasonal_x1000
    FROM cnt c JOIN tot t USING (event_type)
    ORDER BY c.event_type, c.hour_of_day
    """,
)
def ts_seasonal_profile_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality profile per event type — the baseline
    curve behind every traffic anomaly rule ("is 3am volume normal for
    3am?"): per (event_type, hour) counts, each hour's share of its
    type (ppm) and the seasonal index vs a uniform 1/24 (x1000; 1000 =
    flat). Feeding CUSUM/anomaly gates with the seasonal index instead
    of raw counts removes the one false-positive source they all share.
    Integer-exact via FLOOR'd cross-ratios.

    Shape: two partial-aggregatable groupBys (24 x #types, then
    #types) and a broadcast-sized join — one scan, no corpus-scale
    shuffle."""
    h = read_table(spark, sf_dir, "events").select(
        F.hour("ts").cast("int").alias("hour_of_day"), "event_type"
    )
    cnt = h.groupBy("hour_of_day", "event_type").agg(F.count(F.lit(1)).alias("n"))
    tot = cnt.groupBy("event_type").agg(F.sum("n").alias("n_type"))
    return (
        cnt.join(F.broadcast(tot), "event_type")
        .select(
            "hour_of_day",
            "event_type",
            F.col("n").cast("long").alias("n_events"),
            F.floor(F.col("n") * 1000000 / F.col("n_type"))
            .cast("long")
            .alias("share_ppm"),
            F.floor(F.col("n") * 24000 / F.col("n_type"))
            .cast("long")
            .alias("seasonal_x1000"),
        )
        .orderBy("event_type", "hour_of_day")
    )


@query(
    "events_attribution_first_last",
    """
    WITH purchases AS (
      SELECT event_id AS p_id, user_id, ts AS p_ts,
             ROUND(value, 2) AS revenue
      FROM events WHERE event_type = 'purchase'
    ), views AS (
      SELECT event_id AS v_id, user_id, ts AS v_ts
      FROM events WHERE event_type = 'view'
    ), touched AS (
      SELECT p.p_id, p.user_id, p.revenue, v.v_id,
             ROW_NUMBER() OVER (
               PARTITION BY p.p_id ORDER BY v.v_ts, v.v_id) AS rn_first,
             ROW_NUMBER() OVER (
               PARTITION BY p.p_id ORDER BY v.v_ts DESC, v.v_id DESC) AS rn_last,
             COUNT(*) OVER (PARTITION BY p.p_id) AS n_touches
      FROM purchases p JOIN views v
        ON v.user_id = p.user_id
       AND v.v_ts < p.p_ts
       AND v.v_ts >= p.p_ts - INTERVAL 7 DAY
    )
    SELECT p_id AS purchase_id, user_id, revenue,
           CAST(n_touches AS BIGINT) AS n_touches,
           CAST(MAX(CASE WHEN rn_first = 1 THEN v_id END) AS BIGINT)
             AS first_touch_id,
           CAST(MAX(CASE WHEN rn_last = 1 THEN v_id END) AS BIGINT)
             AS last_touch_id
    FROM touched
    GROUP BY p_id, user_id, revenue, n_touches
    ORDER BY p_id
    """,
)
def events_attribution_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution, first- and last-touch: every purchase is
    credited to the user's FIRST and LAST ``view`` inside a 7-day
    lookback window — the two canonical single-touch models a revenue
    dashboard reconciles (first-touch rewards acquisition, last-touch
    conversion; multi-touch models interpolate between these
    endpoints).

    Shape: an equi-join on user_id carries the lookback range predicate
    (per-user event counts are session-scale, so the range expansion is
    bounded per key — never a cross product); the first/last picks are
    ROW_NUMBER windows PARTITIONED on the purchase, deterministic under
    timestamp ties via the event-id tiebreak. At 100 TB both sides
    shuffle once on user_id and everything downstream stays on the
    purchase key."""
    ev = read_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
        F.round("value", 2).alias("revenue"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("v_id"),
        "user_id",
        F.col("ts").alias("v_ts"),
    )
    touched = purchases.join(views, "user_id").filter(
        (F.col("v_ts") < F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 7 DAYS"))
    )
    w_first = Window.partitionBy("p_id").orderBy("v_ts", "v_id")
    w_last = Window.partitionBy("p_id").orderBy(
        F.col("v_ts").desc(), F.col("v_id").desc()
    )
    return (
        touched.select(
            "p_id",
            "user_id",
            "revenue",
            "v_id",
            F.row_number().over(w_first).alias("rn_first"),
            F.row_number().over(w_last).alias("rn_last"),
        )
        .groupBy("p_id", "user_id", "revenue")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_touches"),
            F.max(F.when(F.col("rn_first") == 1, F.col("v_id")))
            .cast("long")
            .alias("first_touch_id"),
            F.max(F.when(F.col("rn_last") == 1, F.col("v_id")))
            .cast("long")
            .alias("last_touch_id"),
        )
        .select(
            F.col("p_id").alias("purchase_id"),
            "user_id",
            "revenue",
            "n_touches",
            "first_touch_id",
            "last_touch_id",
        )
        .orderBy("purchase_id")
    )


@query(
    "events_time_to_convert",
    """
    WITH s AS (
      SELECT user_id, MIN(ts) AS signup_ts FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ), p AS (
      SELECT s.user_id,
             epoch_us(MIN(e.ts)) // 1000000 - epoch_us(s.signup_ts) // 1000000
               AS latency_s
      FROM s JOIN events e
        ON e.user_id = s.user_id AND e.event_type = 'purchase'
       AND e.ts > s.signup_ts
      GROUP BY s.user_id, s.signup_ts
    ), r AS (
      SELECT latency_s,
             ROW_NUMBER() OVER (ORDER BY latency_s, user_id) AS rn,
             COUNT(*) OVER () AS n
      FROM p
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_converted,
           CAST(MIN(latency_s) AS BIGINT) AS min_latency_s,
           CAST(MAX(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT)
                         THEN latency_s END) AS BIGINT) AS median_latency_s,
           CAST(MAX(CASE WHEN rn = CAST(CEIL(0.9 * n) AS BIGINT)
                         THEN latency_s END) AS BIGINT) AS p90_latency_s,
           CAST(MAX(latency_s) AS BIGINT) AS max_latency_s
    FROM r
    """,
)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency profile: seconds from a user's FIRST signup to
    their first subsequent purchase, summarized as min / rank-defined
    median and p90 / max over converted users — the growth metric
    behind "how long does activation take?", with the same
    rank-percentile definition as `stats_winsorize_price` (value at
    sorted position ceil(q·n)) so both engines agree exactly.

    Shape: two per-user aggregates (signup min, then the conditional
    purchase min through an equi-join carrying the after-signup
    predicate — session-bounded per-key expansion), then the latency
    frame (≤ #users rows) ranks through the distributed kernel and the
    percentile picks are rank lookups."""
    from databricks_end_to_end_lakeflow_project_spark.operators.scalerank import (
        RankSpec,
        with_global_ranks,
    )

    ev = read_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    lat = (
        signups.join(purchases, "user_id")
        .filter(F.col("p_ts") > F.col("signup_ts"))
        .groupBy("user_id", "signup_ts")
        .agg(F.min("p_ts").alias("first_purchase"))
        .select(
            "user_id",
            (
                F.expr("unix_micros(first_purchase) div 1000000")
                - F.expr("unix_micros(signup_ts) div 1000000")
            ).alias("latency_s"),
        )
    )
    ranked, n = with_global_ranks(
        lat, [RankSpec(out="rn", value="latency_s", tiebreaks=["user_id"])]
    )
    import math

    k50, k90 = math.ceil(0.5 * n), math.ceil(0.9 * n)
    return ranked.agg(
        F.lit(n).cast("long").alias("n_converted"),
        F.min("latency_s").cast("long").alias("min_latency_s"),
        F.max(F.when(F.col("rn") == k50, F.col("latency_s")))
        .cast("long")
        .alias("median_latency_s"),
        F.max(F.when(F.col("rn") == k90, F.col("latency_s")))
        .cast("long")
        .alias("p90_latency_s"),
        F.max("latency_s").cast("long").alias("max_latency_s"),
    )


@query(
    "events_cohort_ltv",
    """
    WITH firsts AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), sizes AS (
      SELECT cohort_week, COUNT(*) AS n_users FROM firsts GROUP BY cohort_week
    ), rev AS (
      SELECT f.cohort_week,
             CAST(FLOOR(date_diff('day', f.cohort_week,
                                  date_trunc('week', e.ts)) / 7) AS INT)
               AS week_offset,
             SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS rev_cents
      FROM firsts f JOIN events e
        ON e.user_id = f.user_id AND e.event_type = 'purchase'
       AND e.ts >= f.cohort_week
      GROUP BY 1, 2
    )
    SELECT CAST(r.cohort_week AS DATE) AS cohort_week, r.week_offset,
           CAST(s.n_users AS BIGINT) AS n_users,
           ROUND(r.rev_cents / 100.0, 2) AS revenue,
           ROUND(SUM(r.rev_cents) OVER (
                   PARTITION BY r.cohort_week ORDER BY r.week_offset
                 ) / 100.0, 2) AS cum_revenue
    FROM rev r JOIN sizes s USING (cohort_week)
    ORDER BY cohort_week, week_offset
    """,
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves — the revenue companion of the
    retention-cohort table: users grouped by signup week, purchase
    revenue rolled up per week-offset since the cohort started, with
    the running cumulative that IS the LTV curve a growth team reads
    payback periods off.

    Exactness: revenue quantizes to integer cents per row BEFORE any
    aggregation (double sums are reduction-order-dependent; integer
    cents are not), the cumulative is an integer window sum, and week
    arithmetic is Monday-truncated on both engines.

    Shape: per-user first-signup aggregate, one equi-join on user
    carrying the after-cohort predicate, a (cohort, offset) rollup, and
    the cumulative as a window PARTITIONED by cohort — a few dozen rows
    per cohort at any corpus size."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "value"
    )
    firsts = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    )
    sizes = firsts.groupBy("cohort_week").agg(F.count(F.lit(1)).alias("n_users"))
    rev = (
        firsts.join(
            ev.filter(F.col("event_type") == "purchase").select(
                "user_id", "ts", "value"
            ),
            "user_id",
        )
        .filter(F.col("ts") >= F.col("cohort_week"))
        .select(
            "cohort_week",
            F.floor(
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week"))
                / 7
            )
            .cast("int")
            .alias("week_offset"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.sum("cents").alias("rev_cents"))
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        rev.join(sizes, "cohort_week")
        .select(
            F.col("cohort_week").cast("date").alias("cohort_week"),
            "week_offset",
            F.col("n_users").cast("long").alias("n_users"),
            F.round(F.col("rev_cents") / 100.0, 2).alias("revenue"),
            F.round(F.sum("rev_cents").over(w) / 100.0, 2).alias("cum_revenue"),
        )
        .orderBy("cohort_week", "week_offset")
    )


_HOLT_A, _HOLT_B = 0.5, 0.3  # level / trend smoothing factors


@query(
    "ts_holt_linear",
    f"""
    WITH RECURSIVE daily AS (
      SELECT event_type,
             ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY CAST(ts AS DATE)
             ) AS i,
             CAST(SUM(CAST(value AS DECIMAL(18, 6))) AS DOUBLE) AS y
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    holt AS (
      SELECT event_type, i, y AS l, CAST(0 AS DOUBLE) AS b
      FROM daily WHERE i = 1
      UNION ALL
      SELECT d.event_type, d.i,
             {_HOLT_A} * d.y + {1 - _HOLT_A} * (h.l + h.b) AS l,
             {_HOLT_B} * (({_HOLT_A} * d.y + {1 - _HOLT_A} * (h.l + h.b))
                          - h.l) + {1 - _HOLT_B} * h.b AS b
      FROM holt h
      JOIN daily d ON d.event_type = h.event_type AND d.i = h.i + 1
    ),
    fin AS (SELECT event_type, MAX(i) AS n_days FROM daily GROUP BY event_type)
    SELECT h.event_type, fin.n_days,
           ROUND(h.l, 4) AS level,
           ROUND(h.b, 4) AS trend,
           ROUND(h.l + 3 * h.b, 4) AS forecast_h3
    FROM holt h JOIN fin ON h.event_type = fin.event_type AND h.i = fin.n_days
    ORDER BY h.event_type
    """,
)
def ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level α=0.5, trend β=0.3) of
    each event type's daily value total, reporting the final level/trend
    state and the 3-step-ahead linear forecast — the trend-aware sibling
    of ``ts_ewma_final``, which only tracks a level.

    Implemented as an order-pinned struct fold: daily totals are summed
    in DECIMAL (order-independent exactness), the per-type series is
    collected sorted by day, and ``F.aggregate`` left-folds the
    (level, trend) pair; the seed is the textbook init l₁=y₁, b₁=0. The
    oracle runs the IDENTICAL operation sequence as a DuckDB recursive
    CTE (one row per step), so IEEE doubles hash-match. (A ``list_reduce``
    struct-fold oracle was rejected: DuckDB 1.0 evaluates accumulator
    struct fields sequentially IN PLACE, so the trend field would read
    the already-updated level — measured, not hypothesized.)

    Scale: one shuffle on the series key; per-key arrays are bounded by
    calendar days, not event rows (the daily pre-aggregate map-side
    combines). Unbounded series go through the streaming engine's
    stateful recurrence instead (stream_stateful_totals).
    """
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("y")
        )
    )
    series = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("d", "y"))).alias("s")
    )
    pts = F.transform(
        F.col("s"),
        lambda e: F.struct(e["y"].alias("l"), F.lit(0.0).alias("b")),
    )

    def _step(acc, x):
        l_new = F.lit(_HOLT_A) * x["l"] + F.lit(1 - _HOLT_A) * (acc["l"] + acc["b"])
        b_new = F.lit(_HOLT_B) * (l_new - acc["l"]) + F.lit(1 - _HOLT_B) * acc["b"]
        return F.struct(l_new.alias("l"), b_new.alias("b"))

    folded = F.aggregate(
        F.slice(pts, 2, F.greatest(F.size(pts) - 1, F.lit(0))),
        F.element_at(pts, 1),
        _step,
    )
    return series.select(
        "event_type",
        F.size("s").alias("n_days"),
        F.round(folded["l"], 4).alias("level"),
        F.round(folded["b"], 4).alias("trend"),
        F.round(folded["l"] + 3 * folded["b"], 4).alias("forecast_h3"),
    ).orderBy("event_type")


_KM_OBS_END = "2024-01-31"  # dataset observation end (TESTDATA.md window)


@query(
    "events_survival_km",
    f"""
    WITH su AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS s_day
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    cv AS (
      SELECT e.user_id, MIN(CAST(e.ts AS DATE)) AS c_day
      FROM events e JOIN su ON e.user_id = su.user_id
      WHERE e.event_type = 'purchase' AND CAST(e.ts AS DATE) >= su.s_day
      GROUP BY e.user_id
    ),
    per_user AS (
      SELECT su.user_id,
             CASE WHEN cv.c_day IS NOT NULL THEN cv.c_day - su.s_day
                  ELSE DATE '{_KM_OBS_END}' - su.s_day END AS dur,
             CASE WHEN cv.c_day IS NOT NULL THEN 1 ELSE 0 END AS evt
      FROM su LEFT JOIN cv ON su.user_id = cv.user_id
    ),
    g AS (
      SELECT dur, SUM(evt) AS d, SUM(1 - evt) AS c
      FROM per_user GROUP BY dur
    ),
    km1 AS (
      SELECT dur, d,
             SUM(d + c) OVER () -
               COALESCE(SUM(d + c) OVER (ORDER BY dur
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS at_risk
      FROM g
    ),
    km AS (
      SELECT dur, d, at_risk,
             SUM(CASE WHEN d = at_risk THEN CAST('-infinity' AS DOUBLE)
                      ELSE LN(1 - 1.0 * d / at_risk) END)
               OVER (ORDER BY dur) AS lsum
      FROM km1
    )
    SELECT CAST(dur AS BIGINT) AS t_days,
           CAST(at_risk AS BIGINT) AS n_at_risk,
           CAST(d AS BIGINT) AS n_events,
           ROUND(EXP(lsum), 6) AS survival
    FROM km WHERE d > 0 ORDER BY t_days
    """,
)
def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier product-limit survival curve for signup→purchase
    conversion: per-user duration in days (right-censored at the
    observation end for users who never convert), risk sets and the
    survival estimate S(t) = Π (1 − dᵢ/nᵢ) at each event time — the
    estimator behind time-to-convert and churn readouts that naive
    conversion rates get wrong under censoring.

    Exactness: the product is computed as exp(Σ ln(1 − d/n)) with the
    terms added in duration order in BOTH engines (Spark folds a sorted
    array; the oracle uses an ordered running window — a sequential sum
    either way), so IEEE doubles match. d=0 durations contribute ln(1)=0
    and drop from the output.

    Scale: one shuffle to user grain, one to duration grain; the KM
    recursion runs over the DISTINCT-DURATION array (bounded by the
    observation window in days, not by users) inside a single row — no
    unpartitioned window, no driver loop. A multi-cohort version
    partitions the same fold by cohort key.
    """
    ev = _t(spark, sf_dir, "events")
    day = F.to_date("ts")
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(day).alias("s_day"))
    )
    cv = (
        ev.filter(F.col("event_type") == "purchase")
        .join(su, "user_id")
        .filter(day >= F.col("s_day"))
        .groupBy("user_id")
        .agg(F.min(day).alias("c_day"))
    )
    per_user = su.join(cv, "user_id", "left").select(
        F.when(
            F.col("c_day").isNotNull(), F.datediff("c_day", "s_day")
        )
        .otherwise(F.datediff(F.lit(_KM_OBS_END).cast("date"), F.col("s_day")))
        .alias("dur"),
        F.when(F.col("c_day").isNotNull(), 1).otherwise(0).alias("evt"),
    )
    g = per_user.groupBy("dur").agg(
        F.sum("evt").alias("d"), F.sum(1 - F.col("evt")).alias("c")
    )
    arr = F.array_sort(F.collect_list(F.struct("dur", "d", "c")))
    row_t = (
        "named_struct('t_days', CAST(x.dur AS BIGINT), "
        "'n_at_risk', acc.rem, 'n_events', CAST(x.d AS BIGINT), "
        "'lsum', acc.lsum + IF(x.d = acc.rem, CAST('-Infinity' AS DOUBLE), "
        "LN(1 - CAST(x.d AS DOUBLE) / CAST(acc.rem AS DOUBLE))))"
    )
    folded = F.expr(
        f"""
        aggregate(
          arr,
          named_struct('rem', total, 'lsum', CAST(0 AS DOUBLE),
                       'out', CAST(array() AS
                         array<struct<t_days:bigint, n_at_risk:bigint,
                                      n_events:bigint, lsum:double>>)),
          (acc, x) -> named_struct(
            'rem', acc.rem - x.d - x.c,
            'lsum', acc.lsum + IF(x.d = acc.rem,
                                    CAST('-Infinity' AS DOUBLE),
                                    LN(1 - CAST(x.d AS DOUBLE)
                                       / CAST(acc.rem AS DOUBLE))),
            'out', CASE WHEN x.d > 0
                        THEN concat(acc.out, array({row_t}))
                        ELSE acc.out END),
          acc -> acc.out)
        """
    )
    base = g.agg(arr.alias("arr"))
    base = base.withColumn(
        "total",
        F.aggregate(
            F.col("arr"), F.lit(0).cast("long"), lambda a, x: a + x["d"] + x["c"]
        ),
    )
    rows = base.select(F.explode(folded).alias("r"))
    return rows.select(
        F.col("r.t_days").alias("t_days"),
        F.col("r.n_at_risk").alias("n_at_risk"),
        F.col("r.n_events").alias("n_events"),
        F.round(F.exp("r.lsum"), 6).alias("survival"),
    ).orderBy("t_days")


@query(
    "ts_changepoint_single_split",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(value AS DECIMAL(18, 6))) AS DOUBLE) AS y
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    idx AS (
      SELECT event_type, d, y,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS i,
             COUNT(*) OVER (PARTITION BY event_type) AS n,
             SUM(y) OVER (PARTITION BY event_type ORDER BY d) AS cs,
             SUM(y * y) OVER (PARTITION BY event_type ORDER BY d) AS cs2,
             SUM(y) OVER (PARTITION BY event_type) AS tot,
             SUM(y * y) OVER (PARTITION BY event_type) AS tot2
      FROM daily
    ),
    costs AS (
      SELECT event_type, d AS split_day, i, n,
             (cs2 - cs * cs / i)
             + ((tot2 - cs2) - (tot - cs) * (tot - cs) / (n - i)) AS sse_split,
             tot2 - tot * tot / n AS sse_all
      FROM idx WHERE i < n
    ),
    best AS (
      SELECT * FROM (
        SELECT event_type, split_day, sse_split, sse_all,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY sse_split, split_day) AS rn
        FROM costs
      ) WHERE rn = 1
    )
    SELECT event_type, split_day,
           ROUND(sse_all, 4) AS sse_unsplit,
           ROUND(sse_split, 4) AS sse_best_split,
           ROUND(1 - sse_split / sse_all, 6) AS variance_explained
    FROM best ORDER BY event_type
    """,
)
def ts_changepoint_single_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-changepoint detection per event type (binary-segmentation
    step 1, the building block PELT/BinSeg iterate): the split day
    minimizing left-SSE + right-SSE of the daily value series, with the
    variance explained by the split — the offline counterpart of the
    CUSUM drift monitor.

    Exactness: daily sums and squared sums accumulate in DECIMAL (exact,
    order-free) and convert to doubles once; prefix sums run in a window
    PARTITIONED BY the series key ordered by day (both engines sequential
    in the same order), so every cost is IEEE-identical; argmin ties
    break to the earliest day.

    Scale: one shuffle to (type, day) grain, one partitioned window pass,
    one per-type top-1 — candidate splits live at day granularity
    (bounded by the calendar), never at event granularity. Full BinSeg
    recurses this plan on the winning halves.
    """
    ev = _t(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,6)")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.sum(dec).cast("double").alias("y")
    )
    wo = Window.partitionBy("event_type").orderBy("d")
    wa = Window.partitionBy("event_type")
    idx = daily.select(
        "event_type",
        "d",
        "y",
        F.row_number().over(wo).alias("i"),
        F.count(F.lit(1)).over(wa).alias("n"),
        F.sum("y").over(wo).alias("cs"),
        F.sum(F.col("y") * F.col("y")).over(wo).alias("cs2"),
        F.sum("y").over(wa).alias("tot"),
        F.sum(F.col("y") * F.col("y")).over(wa).alias("tot2"),
    )
    costs = idx.filter(F.col("i") < F.col("n")).select(
        "event_type",
        F.col("d").alias("split_day"),
        (
            (F.col("cs2") - F.col("cs") * F.col("cs") / F.col("i"))
            + (
                (F.col("tot2") - F.col("cs2"))
                - (F.col("tot") - F.col("cs"))
                * (F.col("tot") - F.col("cs"))
                / (F.col("n") - F.col("i"))
            )
        ).alias("sse_split"),
        (F.col("tot2") - F.col("tot") * F.col("tot") / F.col("n")).alias(
            "sse_all"
        ),
    )
    wr = Window.partitionBy("event_type").orderBy("sse_split", "split_day")
    return (
        costs.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            "split_day",
            F.round("sse_all", 4).alias("sse_unsplit"),
            F.round("sse_split", 4).alias("sse_best_split"),
            F.round(1 - F.col("sse_split") / F.col("sse_all"), 6).alias(
                "variance_explained"
            ),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# round-6 addition (session 2): Hill tail-index estimator
# ---------------------------------------------------------------------------

_HILL_K = 100  # tail order statistics used by the estimator


@query(
    "events_hill_tail_index",
    f"""
    WITH act AS (
      SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id
    ),
    ranked AS (
      SELECT cnt,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, user_id) AS rn
      FROM act
    ),
    keff AS (
      SELECT LEAST({_HILL_K}, COUNT(*) - 1) AS k FROM act
    ),
    ref AS (SELECT cnt AS x_ref FROM ranked, keff WHERE rn = keff.k + 1),
    top AS (SELECT cnt FROM ranked, keff WHERE rn <= keff.k)
    SELECT CAST(keff.k AS BIGINT) AS k,
           CAST(x_ref AS BIGINT) AS x_ref,
           ROUND(keff.k / NULLIF(SUM(LN(cnt)) - keff.k * LN(x_ref), 0), 4)
             AS hill_alpha
    FROM top, ref, keff GROUP BY keff.k, x_ref
    """,
)
def events_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the power-law tail index of user activity —
    'how heavy is the heavy-hitter tail' in one number: α̂ =
    k / Σᵢ≤k ln(x₍ᵢ₎/x₍ₖ₊₁₎) over the k={_HILL_K} largest per-user event
    counts. The planning input for skew-aware salting (`join_salted_skew`)
    and hot-key caps: α ≤ 2 means unbounded variance — expect stragglers.

    Scale shape: per-user counts are one map-side-combinable groupBy;
    the global order statistic uses the scalerank kernel (range-bin +
    partitioned window — no single-partition sort); only k+1 rows reach
    the log-sum. Exactness: counts are integers; the k log terms are
    summed at double then rounded at 4 (the `text_*_nll` tolerance
    protocol — sub-ULP reduction-order noise is far below the grid).
    """
    from databricks_end_to_end_lakeflow_project_spark.operators.scalerank import (
        RankSpec,
        with_global_ranks,
    )

    act = (
        read_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ranked, n_users = with_global_ranks(
        act, [RankSpec(out="rn", value="cnt", tiebreaks=["user_id"], descending=True)]
    )
    # adaptive k: small fixtures (sf0.001) have fewer than k+1 users
    k = min(_HILL_K, n_users - 1)
    x_ref = int(ranked.filter(F.col("rn") == k + 1).select("cnt").collect()[0][0])
    top = ranked.filter(F.col("rn") <= k)
    # Degenerate all-ties tail (every top-k count == x_ref) zeroes the
    # denominator; NULLIF-style short-circuit to NULL in BOTH engines so
    # the oracle comparison stays aligned instead of inf-vs-NULL diverging.
    denom = F.sum(F.log("cnt")) - F.lit(float(k)) * F.log(F.lit(float(x_ref)))
    return top.agg(
        F.lit(k).cast("long").alias("k"),
        F.lit(x_ref).cast("long").alias("x_ref"),
        F.round(
            F.lit(float(k))
            / F.when(denom != 0.0, denom).otherwise(F.lit(None).cast("double")),
            4,
        ).alias("hill_alpha"),
    )


@query(
    "events_growth_accounting",
    """
    WITH act AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    marked AS (
      SELECT user_id, d,
             MIN(d) OVER (PARTITION BY user_id) AS first_d,
             LAG(d) OVER (PARTITION BY user_id ORDER BY d) AS prev_d,
             LEAD(d) OVER (PARTITION BY user_id ORDER BY d) AS next_d
      FROM act
    ),
    states AS (
      SELECT d,
             CASE
               WHEN d = first_d THEN 'new'
               WHEN prev_d = d - 1 THEN 'retained'
               ELSE 'resurrected'
             END AS state
      FROM marked
      UNION ALL
      SELECT d + 1 AS d, 'churned' AS state
      FROM marked
      WHERE (next_d IS NULL OR next_d > d + 1)
        AND d + 1 <= (SELECT MAX(d) FROM act)
    )
    SELECT d AS day,
           SUM(CASE WHEN state = 'new' THEN 1 ELSE 0 END) AS n_new,
           SUM(CASE WHEN state = 'retained' THEN 1 ELSE 0 END) AS n_retained,
           SUM(CASE WHEN state = 'resurrected' THEN 1 ELSE 0 END)
             AS n_resurrected,
           SUM(CASE WHEN state = 'churned' THEN 1 ELSE 0 END) AS n_churned
    FROM states GROUP BY d ORDER BY d
    """,
)
def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting (the Social-Capital/A16Z MAU-accounting
    identity, at day grain): every active user-day is NEW (first ever),
    RETAINED (also active the day before) or RESURRECTED (returning
    after a gap), and a user CHURNS the day after an activity day with
    no follow-on — so active(d) = new + retained + resurrected and
    active(d) − active(d−1) = new + resurrected − churned, the identity
    the growth dashboard decomposes.

    Plan: one distinct on (user, day) — the only corpus-sized shuffle —
    then per-user windows (partitioned, ordered by day) for
    first/prev/next, a union of the two classification branches, and a
    day rollup. The churn branch's MAX(day) horizon guard is a 1-row
    scalar. All counts are integers; no floats anywhere.
    """
    act = (
        read_table(spark, sf_dir, "events")
        .select("user_id", F.col("ts").cast("date").alias("d"))
        .distinct()
    )
    w = Window.partitionBy("user_id")
    wo = w.orderBy("d")
    marked = act.select(
        "user_id",
        "d",
        F.min("d").over(w).alias("first_d"),
        F.lag("d").over(wo).alias("prev_d"),
        F.lead("d").over(wo).alias("next_d"),
    )
    max_d = act.agg(F.max("d")).collect()[0][0]
    states = marked.select(
        "d",
        F.when(F.col("d") == F.col("first_d"), "new")
        .when(F.col("prev_d") == F.date_sub(F.col("d"), 1), "retained")
        .otherwise("resurrected")
        .alias("state"),
    ).unionByName(
        marked.filter(
            (F.col("next_d").isNull() | (F.col("next_d") > F.date_add(F.col("d"), 1)))
            & (F.date_add(F.col("d"), 1) <= F.lit(max_d))
        ).select(F.date_add(F.col("d"), 1).alias("d"), F.lit("churned").alias("state"))
    )
    return (
        states.groupBy(F.col("d").alias("day"))
        .agg(
            *[
                F.sum(F.when(F.col("state") == s, 1).otherwise(0)).alias(f"n_{s}")
                for s in ("new", "retained", "resurrected", "churned")
            ]
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# round-6 addition (session 2): Markov removal-effect attribution
# ---------------------------------------------------------------------------

_MK_CHANNELS = ("click", "error", "signup", "view")
_MK_STEPS = 6  # truncated-horizon reach (unrolled in the oracle)


def _markov_oracle() -> str:
    variants = ",".join(
        f"SELECT '{v}' AS variant" for v in ("full",) + _MK_CHANNELS
    ).replace(",", " UNION ALL ", len(_MK_CHANNELS))
    steps = []
    for t in range(1, _MK_STEPS + 1):
        steps.append(
            f"""
    st{t} AS (
      SELECT v.variant, tr.dst AS state, SUM(v.p * tr.q) AS p
      FROM st{t - 1} v JOIN vtrans tr
        ON tr.variant = v.variant AND tr.src = v.state
      WHERE v.state NOT IN ('conv', 'null')
      GROUP BY v.variant, tr.dst
    )"""
        )
    chain = ",".join(steps)
    conv_union = "\n      UNION ALL ".join(
        f"SELECT variant, p FROM st{t} WHERE state = 'conv'"
        for t in range(1, _MK_STEPS + 1)
    )
    return f"""
    WITH seq AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'purchase' THEN 'conv'
                  ELSE event_type END AS state,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END)
               OVER (PARTITION BY user_id) AS conv_ts
      FROM events
    ),
    journey AS (
      SELECT user_id, ts, event_id, state,
             ROW_NUMBER() OVER w AS rn,
             LEAD(state) OVER w AS nxt
      FROM seq
      WHERE conv_ts IS NULL OR ts <= conv_ts
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    trans AS (
      SELECT 'start' AS src, state AS dst FROM journey WHERE rn = 1
      UNION ALL
      SELECT state AS src, COALESCE(nxt, 'null') AS dst
      FROM journey WHERE state <> 'conv'
    ),
    cnt AS (SELECT src, dst, COUNT(*) AS c FROM trans GROUP BY src, dst),
    q AS (
      SELECT src, dst,
             c::DOUBLE / SUM(c) OVER (PARTITION BY src) AS q
      FROM cnt
    ),
    variants AS ({variants}),
    vtrans AS (
      SELECT v.variant, q.src,
             CASE WHEN q.dst = v.variant THEN 'null' ELSE q.dst END AS dst,
             q.q
      FROM variants v JOIN q ON q.src <> v.variant
    ),
    st0 AS (SELECT variant, 'start' AS state, 1.0 AS p FROM variants),
    {chain},
    reach AS (
      SELECT variant, SUM(p) AS r FROM ({conv_union}) GROUP BY variant
    ),
    fullr AS (
      SELECT NULLIF((SELECT r FROM reach WHERE variant = 'full'), 0) AS rf
    )
    SELECT variant,
           ROUND(COALESCE(r, 0), 6) AS reach,
           -- "+ 0" normalizes IEEE negative zero: the scalar subquery may
           -- recompute reach with a different parallel summation order,
           -- leaving r/rf one ULP above 1 for the full variant, and
           -- ROUND(-2e-16, 6) prints -0 (caught live in the r7 full run)
           ROUND(1 - COALESCE(r, 0) / rf, 6) + 0 AS removal_effect
    FROM (SELECT v.variant, reach.r FROM variants v
          LEFT JOIN reach ON reach.variant = v.variant), fullr
    ORDER BY variant
    """


@query("events_markov_attribution", _markov_oracle())
def events_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain (removal-effect) attribution — the data-driven
    alternative to first/last-touch (`events_attribution_first_last`):
    build the user-journey transition chain (start → touchpoints → conv
    on first purchase / null on journey end), measure each channel's
    REMOVAL EFFECT = 1 − reach(chain with the channel knocked out to
    null) / reach(full chain), over a {_MK_STEPS}-step truncated horizon
    (the bounded-round contract; the unrolled oracle replays it).

    Scale shape: the only corpus-sized work is the journey window (one
    partitioned per-user window) and the transition count groupBy; the
    chain itself is |states|² rows, the 5 knockout variants expand it to
    a ≤ ~250-row broadcast frame, and each propagation step is one tiny
    join + aggregate over (variant, state) — 'model moves, not data'.
    """
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        F.when(F.col("event_type") == "purchase", "conv")
        .otherwise(F.col("event_type"))
        .alias("state"),
    )
    wu = Window.partitionBy("user_id")
    seq = ev.withColumn(
        "conv_ts",
        F.min(F.when(F.col("state") == "conv", F.col("ts"))).over(wu),
    ).filter(F.col("conv_ts").isNull() | (F.col("ts") <= F.col("conv_ts")))
    wo = wu.orderBy("ts", "event_id")
    j = seq.select(
        "state",
        F.row_number().over(wo).alias("rn"),
        F.lead("state").over(wo).alias("nxt"),
    )
    trans = (
        j.filter(F.col("rn") == 1)
        .select(F.lit("start").alias("src"), F.col("state").alias("dst"))
        .unionByName(
            j.filter(F.col("state") != "conv").select(
                F.col("state").alias("src"),
                F.coalesce(F.col("nxt"), F.lit("null")).alias("dst"),
            )
        )
    )
    cnt = trans.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.groupBy("src").agg(F.sum("c").alias("tc"))
    q = cnt.join(F.broadcast(tot), "src").select(
        "src", "dst", (F.col("c").cast("double") / F.col("tc")).alias("q")
    )
    variants = ("full",) + _MK_CHANNELS
    vdf = read_table(spark, sf_dir, "events").sparkSession.createDataFrame(
        [(v,) for v in variants], "variant string"
    )
    vtrans = (
        vdf.crossJoin(F.broadcast(q))
        .filter(F.col("src") != F.col("variant"))
        .select(
            F.col("variant").alias("vv"),
            "src",
            F.when(F.col("dst") == F.col("variant"), "null")
            .otherwise(F.col("dst"))
            .alias("dst"),
            "q",
        )
        .localCheckpoint(eager=True)
    )
    state = vdf.select("variant", F.lit("start").alias("state"), F.lit(1.0).alias("p"))
    reach_parts = []
    for _t in range(_MK_STEPS):
        state = (
            state.filter(~F.col("state").isin("conv", "null"))
            .join(
                vtrans,
                (F.col("variant") == F.col("vv")) & (F.col("src") == F.col("state")),
            )
            .groupBy("variant", F.col("dst").alias("state"))
            .agg(F.sum(F.col("p") * F.col("q")).alias("p"))
            .localCheckpoint(eager=True)
        )
        reach_parts.append(state.filter(F.col("state") == "conv").select("variant", "p"))
    reach = reach_parts[0]
    for part in reach_parts[1:]:
        reach = reach.unionByName(part)
    reach = reach.groupBy("variant").agg(F.sum("p").alias("r"))
    # Degenerate horizon (no journey reaches 'conv' within _MK_STEPS):
    # the 'full' row is absent or zero — removal effect is undefined, so
    # emit NULL to match the oracle's NULLIF(rf, 0) semantics instead of
    # crashing on the empty collect / dividing by zero.
    rows = reach.filter(F.col("variant") == "full").collect()
    rf = float(rows[0]["r"]) if rows else 0.0
    rf_col = F.lit(rf) if rf != 0.0 else F.lit(None).cast("double")
    return (
        vdf.join(reach, "variant", "left")
        .select(
            "variant",
            F.round(F.coalesce(F.col("r"), F.lit(0.0)), 6).alias("reach"),
            # + 0.0 mirrors the oracle's negative-zero normalization
            (F.round(1 - F.coalesce(F.col("r"), F.lit(0.0)) / rf_col, 6) + 0.0).alias(
                "removal_effect"
            ),
        )
        .orderBy("variant")
    )


_DECAY_HALFLIFE_H = 24.0  # credit halves every 24 hours before conversion


@query(
    "events_decay_attribution",
    f"""
    WITH seq AS (
      SELECT user_id, ts, event_id, event_type,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END)
               OVER (PARTITION BY user_id) AS conv_ts
      FROM events
    ),
    touches AS (
      SELECT user_id, event_type,
             POWER(0.5, DATE_DIFF('second', ts, conv_ts)
                          / ({_DECAY_HALFLIFE_H} * 3600.0)) AS w
      FROM seq
      WHERE conv_ts IS NOT NULL AND ts < conv_ts
        AND event_type <> 'purchase'
    ),
    per_user AS (
      SELECT user_id, event_type, w,
             SUM(w) OVER (PARTITION BY user_id) AS tot
      FROM touches
    )
    SELECT event_type AS channel,
           COUNT(*) AS n_touches,
           ROUND(SUM(w / tot), 4) AS attributed_conversions
    FROM per_user GROUP BY event_type ORDER BY channel
    """,
)
def events_decay_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay attribution — the third member of the attribution
    trio ([[events_attribution_first_last]] positional,
    [[events_markov_attribution]] counterfactual): every touch before a
    user's first purchase earns credit 0.5^(Δt/halflife) with a
    {_DECAY_HALFLIFE_H:.0f}h half-life, normalized per converting user so
    each conversion distributes exactly one unit of credit.

    Exactness: Δt is an integer second count; each weight is one POWER
    call on a rational exponent and the normalization is one division —
    fixed expression trees, rounded 4 (the float-fold tolerance
    protocol). Plan: one per-user window pass (conversion timestamp +
    per-user totals) and one channel rollup; no joins, corpus scanned
    once.
    """
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    wu = Window.partitionBy("user_id")
    seq = ev.withColumn(
        "conv_ts",
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).over(wu),
    )
    touches = seq.filter(
        F.col("conv_ts").isNotNull()
        & (F.col("ts") < F.col("conv_ts"))
        & (F.col("event_type") != "purchase")
    ).select(
        "user_id",
        "event_type",
        F.pow(
            F.lit(0.5),
            (F.col("conv_ts").cast("long") - F.col("ts").cast("long"))
            / F.lit(_DECAY_HALFLIFE_H * 3600.0),
        ).alias("w"),
    )
    per_user = touches.withColumn("tot", F.sum("w").over(wu))
    return (
        per_user.groupBy(F.col("event_type").alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.round(F.sum(F.col("w") / F.col("tot")), 4).alias(
                "attributed_conversions"
            ),
        )
        .orderBy("channel")
    )


@query(
    "events_interarrival_exp_fit",
    """
    WITH gaps AS (
      SELECT event_type,
             DATE_DIFF('second',
                       LAG(ts) OVER (PARTITION BY user_id, event_type
                                     ORDER BY ts, event_id),
                       ts) AS g
      FROM events
    ),
    mom AS (
      -- HUGEINT moments: s1^2 wraps BIGINT at sf0.1 (total seconds x
      -- users ~ 4e9, squared ~ 1.6e19 > 2^63) — caught live by the
      -- sf0.1 sweep; Spark side folds the same term in decimal(38,0)
      SELECT event_type,
             COUNT(g)::BIGINT AS n,
             SUM(g)::HUGEINT AS s1,
             SUM(g::HUGEINT * g)::HUGEINT AS s2
      FROM gaps WHERE g IS NOT NULL GROUP BY event_type
    )
    SELECT event_type AS channel, n AS n_gaps,
           ROUND(CAST(s1 AS DOUBLE) / n, 4) AS mean_gap_s,
           ROUND(3600.0 * n / CAST(s1 AS DOUBLE), 6) AS lambda_per_hour,
           ROUND(SQRT(CAST(n::HUGEINT * s2 - s1 * s1 AS DOUBLE))
                 / CAST(s1 AS DOUBLE), 4) AS cv
    FROM mom ORDER BY channel
    """,
)
def events_interarrival_exp_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time fit per event type: the exponential-process
    MLE rate λ = 1/mean-gap plus the coefficient of variation — CV ≈ 1
    says Poisson-like arrivals (memoryless), CV ≫ 1 says bursts, CV ≪ 1
    says clockwork (bot heartbeat; `events_bot_regularity_topk` ranks
    individual offenders, this is the per-channel fingerprint).

    Exactness: gaps are integer second diffs from a per-(user, type)
    window; CV comes from INTEGER moment sums — √(n·Σg² − (Σg)²)/Σg —
    so nothing reduction-order-sensitive exists; two divisions + one
    SQRT per group, rounded. Plan: one partitioned window pass + one
    mergeable moment aggregate.
    """
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gaps = ev.select(
        "event_type",
        (F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)).alias(
            "g"
        ),
    ).filter(F.col("g").isNotNull())
    # decimal(38,0) moment folds (house overflow protocol): s1^2 wraps a
    # long at sf0.1 — total gap-seconds per channel ~4e9, squared 1.6e19
    mom = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("g").cast("decimal(38,0)")).alias("s1"),
        F.sum((F.col("g") * F.col("g")).cast("decimal(38,0)")).alias("s2"),
    )
    var_term = (
        F.col("n").cast("decimal(38,0)") * F.col("s2")
        - F.col("s1") * F.col("s1")
    )
    s1d = F.col("s1").cast("double")
    return mom.select(
        F.col("event_type").alias("channel"),
        F.col("n").alias("n_gaps"),
        F.round(s1d / F.col("n"), 4).alias("mean_gap_s"),
        F.round(3600.0 * F.col("n") / s1d, 6).alias("lambda_per_hour"),
        F.round(F.sqrt(var_term.cast("double")) / s1d, 4).alias("cv"),
    ).orderBy("channel")


@query(
    "events_collapse_repeats",
    """
    WITH seq AS (
      SELECT event_type,
             CASE WHEN LAG(event_type) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id)
                       IS NOT DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS is_repeat
      FROM events
    )
    SELECT event_type AS channel,
           COUNT(*) AS raw_events,
           SUM(1 - is_repeat) AS kept_events,
           SUM(is_repeat) AS collapsed_repeats,
           ROUND(SUM(is_repeat) * 1.0 / COUNT(*), 4) AS repeat_share
    FROM seq GROUP BY event_type ORDER BY channel
    """,
)
def events_collapse_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-collapse (RLE-style dedup of consecutive repeats) per user —
    the stream-cleaning step before sequence modeling or funnel
    analysis: a user re-firing the same event back-to-back (double
    click, page refresh, retry storm) should count once per RUN, not
    once per row. Reports per-channel raw vs kept counts and the
    collapsed share (a high repeat share on one channel is a telemetry
    bug or a retry storm — cf. `events_bot_regularity_topk`).

    Plan: one per-user ordered window (LAG) + one grouped rollup; the
    null-safe comparison keeps the first event of every user (LAG is
    NULL ≠ any type). All integers except the final share.
    """
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.when(
            F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
        )
        .otherwise(0)
        .alias("is_repeat"),
    )
    return (
        seq.groupBy(F.col("event_type").alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("raw_events"),
            F.sum(1 - F.col("is_repeat")).alias("kept_events"),
            F.sum("is_repeat").alias("collapsed_repeats"),
            F.round(F.sum("is_repeat") * 1.0 / F.count(F.lit(1)), 4).alias(
                "repeat_share"
            ),
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# round-7 additions: classical series decomposition / symbolization /
# robust anomaly scoring / peak detection on the daily event series
# ---------------------------------------------------------------------------


@query(
    "ts_stl_decompose_weekly",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, COUNT(*) AS x FROM events GROUP BY d
    ),
    tr AS (
      -- centered 7-day moving SUM kept as an exact integer; trend = s7/7
      SELECT d, x,
             SUM(x) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
               AS s7,
             COUNT(*) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING
                            AND 3 FOLLOWING) AS w7
      FROM daily
    ),
    det AS (
      -- detrended, SCALED BY 7 so it stays integer: 7x - s7
      SELECT d, x, s7, 7 * x - s7 AS det7
      FROM tr WHERE w7 = 7
    ),
    seas AS (
      -- +1 aligns DuckDB's 0-based Sunday with Spark's 1-based dayofweek
      SELECT DAYOFWEEK(d) + 1 AS dow,
             COUNT(*) AS n_days,
             SUM(det7) AS sdet7
      FROM det GROUP BY DAYOFWEEK(d) + 1
    )
    SELECT dow, n_days,
           ROUND(sdet7 / (7.0 * n_days), 4) AS seasonal_index
    FROM seas ORDER BY dow
    """,
)
def ts_stl_decompose_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal decomposition (the moving-average STL
    ancestor) of the daily event-count series: trend = centered 7-day
    moving average, seasonal index = mean of the detrended series per
    day-of-week — 'how much of Monday is just Monday', the input to any
    deseasonalized alarm ([[ts_cusum_drift]], [[stats_page_hinkley_alarm]]
    fire on raw counts and eat the weekly cycle as noise).

    Exactness: the detrended series is kept as the INTEGER 7x − S7
    (scaled by 7 to clear the division), so every aggregate is an exact
    integer sum; the single division happens once per day-of-week row,
    rounded 4. Plan: one groupBy to days, then the day frame collapses
    to ONE sorted array and the centered window is a per-element slice
    sum (no unpartitioned window — the house rule), exploded back into a
    7-row day-of-week groupBy.
    """
    daily = (
        read_table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    arr = daily.groupBy().agg(
        F.sort_array(F.collect_list(F.struct("d", "x"))).alias("s")
    )
    xs = F.transform(F.col("s"), lambda e: e["x"])
    det = (
        arr.withColumn("xs", xs)
        # 1-based centers with a full 7-day window: j in 4 .. n-3
        .withColumn("idx", asc_seq(F.lit(4), F.size("xs") - 3))
        .select(
            F.explode(
                F.transform(
                    F.col("idx"),
                    lambda j: F.struct(
                        F.element_at(F.col("s"), j)["d"].alias("d"),
                        (
                            7 * F.element_at(F.col("xs"), j)
                            - F.aggregate(
                                F.slice(F.col("xs"), j - 3, 7),
                                F.lit(0).cast("long"),
                                lambda acc, v: acc + v,
                            )
                        ).alias("det7"),
                    ),
                )
            ).alias("r")
        )
        .select(F.col("r.d").alias("d"), F.col("r.det7").alias("det7"))
    )
    return (
        det.groupBy(F.dayofweek("d").alias("dow"))
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(F.sum("det7") / (7.0 * F.count(F.lit(1))), 4).alias(
                "seasonal_index"
            ),
        )
        .orderBy("dow")
    )


_SAX_W = 7  # PAA window (days per symbol)


@query(
    "ts_sax_symbolize",
    f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, COUNT(*) AS x FROM events GROUP BY d
    ),
    mom AS (
      SELECT COUNT(*) AS n, SUM(x) AS s1, SUM(x * x) AS s2 FROM daily
    ),
    seq AS (
      SELECT d, x, ROW_NUMBER() OVER (ORDER BY d) - 1 AS i FROM daily
    ),
    paa AS (
      SELECT i // {_SAX_W} AS seg,
             MIN(d) AS seg_start,
             COUNT(*) AS n_days,
             SUM(x) AS sx
      FROM seq GROUP BY i // {_SAX_W}
    ),
    z AS (
      SELECT seg, seg_start, n_days,
             (sx / (1.0 * n_days) - s1 / (1.0 * n))
               / SQRT((s2 - s1 / (1.0 * n) * s1) / (n - 1.0)) AS paa_z
      FROM paa, mom WHERE n_days = {_SAX_W}
    )
    SELECT seg, seg_start,
           ROUND(paa_z, 4) AS paa_z,
           CASE WHEN paa_z < -0.6745 THEN 'a'
                WHEN paa_z < 0 THEN 'b'
                WHEN paa_z < 0.6745 THEN 'c'
                ELSE 'd' END AS sax_symbol
    FROM z ORDER BY seg
    """,
)
def ts_sax_symbolize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization (Lin et al.) of the daily event-count series:
    z-normalize, Piecewise Aggregate Approximation over {_SAX_W}-day
    segments, then map each segment mean to a 4-letter alphabet at the
    Gaussian quartile breakpoints ±0.6745 — the discretization that turns
    motif/novelty search ([[ts_pattern_search]]) into string matching.

    Exactness: global mean/std come from exact integer moments; each
    segment's PAA mean is an exact integer sum with ONE division; the
    z-score and breakpoint comparison are per-row expression trees
    (no cross-row double folds), rounded 4. Plan: groupBy to days; the
    day frame collapses to ONE sorted array whose posexplode position is
    the sequence index (no unpartitioned row_number — the house rule);
    one segment groupBy against a broadcast 1-row moment frame.
    """
    daily = (
        read_table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    mom = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s1"),
        F.sum(F.col("x") * F.col("x")).alias("s2"),
    )
    seq = (
        daily.groupBy()
        .agg(F.sort_array(F.collect_list(F.struct("d", "x"))).alias("s"))
        .select(F.posexplode("s").alias("i", "r"))
        .select(F.col("r.d").alias("d"), F.col("r.x").alias("x"), "i")
    )
    paa = seq.groupBy((F.col("i") / _SAX_W).cast("long").alias("seg")).agg(
        F.min("d").alias("seg_start"),
        F.count(F.lit(1)).alias("n_days"),
        F.sum("x").alias("sx"),
    )
    n = F.col("n") * 1.0
    mean = F.col("s1") / n
    std = F.sqrt((F.col("s2") - mean * F.col("s1")) / (F.col("n") - 1.0))
    z = (
        paa.filter(F.col("n_days") == _SAX_W)
        .crossJoin(F.broadcast(mom))
        .select(
            "seg",
            "seg_start",
            ((F.col("sx") / (1.0 * F.col("n_days")) - mean) / std).alias("paa_z"),
        )
    )
    sym = (
        F.when(F.col("paa_z") < -0.6745, "a")
        .when(F.col("paa_z") < 0, "b")
        .when(F.col("paa_z") < 0.6745, "c")
        .otherwise("d")
    )
    return z.select(
        "seg", "seg_start", F.round("paa_z", 4).alias("paa_z"), sym.alias("sax_symbol")
    ).orderBy("seg")


_RMAD_W = 15  # rolling window (days) for the robust anomaly score


@query(
    "ts_rolling_mad_anomaly",
    f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, COUNT(*) AS x FROM events GROUP BY d
    ),
    win AS (
      SELECT d, x,
             LIST(x) OVER (ORDER BY d ROWS BETWEEN {_RMAD_W - 1} PRECEDING
                           AND CURRENT ROW) AS w,
             COUNT(*) OVER (ORDER BY d ROWS BETWEEN {_RMAD_W - 1} PRECEDING
                            AND CURRENT ROW) AS nw
      FROM daily
    ),
    med AS (
      SELECT d, x, w, nw,
             -- exact window median of integers: sorted-array midpoint
             (list_sort(w)[(nw + 1) // 2]
              + list_sort(w)[nw // 2 + 1]) / 2.0 AS m
      FROM win WHERE nw = {_RMAD_W}
    ),
    dev AS (
      SELECT d, x, m, nw,
             list_sort(list_transform(w, v -> ABS(v - m))) AS devs
      FROM med
    )
    SELECT d AS day, x AS daily_count,
           ROUND(m, 1) AS rolling_median,
           ROUND((devs[(nw + 1) // 2] + devs[nw // 2 + 1]) / 2.0, 1)
             AS rolling_mad,
           ROUND(ABS(x - m) / NULLIF((devs[(nw + 1) // 2]
                                      + devs[nw // 2 + 1]) / 2.0, 0), 4)
             AS anomaly_score
    FROM dev
    ORDER BY anomaly_score DESC NULLS LAST, day LIMIT 5
    """,
)
def ts_rolling_mad_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling median/MAD anomaly score over the daily event-count
    series (|x − med|/MAD in a trailing {_RMAD_W}-day window) — the
    robust alarm that a single previous spike cannot poison, unlike
    z-scores off a rolling MEAN ([[ts_cusum_drift]]'s weakness on
    heavy-tailed days). Emits the 5 most anomalous days.

    Exactness: the window is materialized as a ≤{_RMAD_W}-element
    integer array per row (bounded by the window, not the corpus);
    median and MAD are exact sorted-array midpoints; one division,
    rounded 4. Plan: one groupBy to days; the day frame collapses to
    ONE sorted array and each trailing window is a per-element slice
    (no unpartitioned window collect — the house rule); the array
    algebra is per-row, no cross-row double folds.
    """
    daily = (
        read_table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    arr = daily.groupBy().agg(
        F.sort_array(F.collect_list(F.struct("d", "x"))).alias("s")
    )
    win = (
        arr.withColumn("xs", F.transform(F.col("s"), lambda e: e["x"]))
        .withColumn("idx", asc_seq(F.lit(_RMAD_W), F.size("xs")))
        .select(
            F.explode(
                F.transform(
                    F.col("idx"),
                    lambda j: F.struct(
                        F.element_at(F.col("s"), j)["d"].alias("d"),
                        F.element_at(F.col("xs"), j).alias("x"),
                        F.slice(F.col("xs"), j - (_RMAD_W - 1), _RMAD_W).alias(
                            "wlist"
                        ),
                    ),
                )
            ).alias("r")
        )
        .select("r.d", "r.x", "r.wlist", F.size("r.wlist").alias("nw"))
    )
    sw = F.array_sort(F.col("wlist"))
    lo = F.element_at(sw, ((F.col("nw") + 1) / 2).cast("int"))
    hi = F.element_at(sw, (F.col("nw") / 2).cast("int") + 1)
    med = win.select("d", "x", "wlist", "nw", ((lo + hi) / 2.0).alias("m"))
    devs = F.array_sort(
        F.transform(F.col("wlist"), lambda v: F.abs(v - F.col("m")))
    )
    dlo = F.element_at(devs, ((F.col("nw") + 1) / 2).cast("int"))
    dhi = F.element_at(devs, (F.col("nw") / 2).cast("int") + 1)
    mad = (dlo + dhi) / 2.0
    return (
        med.select(
            F.col("d").alias("day"),
            F.col("x").alias("daily_count"),
            F.round("m", 1).alias("rolling_median"),
            F.round(mad, 1).alias("rolling_mad"),
            F.round(
                F.abs(F.col("x") - F.col("m")) / F.nullif(mad, F.lit(0.0)), 4
            ).alias("anomaly_score"),
        )
        .orderBy(F.desc_nulls_last("anomaly_score"), "day")
        .limit(5)
    )


@query(
    "ts_peak_prominence",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, COUNT(*) AS x FROM events GROUP BY d
    ),
    nb AS (
      SELECT d, x,
             MAX(x) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING
                          AND 1 PRECEDING) AS left_max,
             MAX(x) OVER (ORDER BY d ROWS BETWEEN 1 FOLLOWING
                          AND 3 FOLLOWING) AS right_max,
             COUNT(*) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING
                            AND 3 FOLLOWING) AS nwin
      FROM daily
    )
    SELECT d AS day, x AS daily_count,
           left_max, right_max,
           x - GREATEST(left_max, right_max) AS prominence
    FROM nb
    WHERE nwin = 7 AND x > left_max AND x > right_max
    ORDER BY prominence DESC, day LIMIT 5
    """,
)
def ts_peak_prominence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-peak detection with a ±3-day shoulder: a day is a peak when
    it strictly exceeds every neighbor in the window, scored by its
    prominence over the taller shoulder — the load-spike picker feeding
    capacity review (where [[ts_rolling_mad_anomaly]] scores deviation,
    this demands strict local maximality). Top-5 peaks.

    Exactness: pure integer comparisons and differences — no floating
    point anywhere. Plan: one groupBy to days; the day frame collapses
    to ONE sorted array and the two shoulders are per-element slice
    maxima (no unpartitioned window — the house rule).
    """
    daily = (
        read_table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    arr = daily.groupBy().agg(
        F.sort_array(F.collect_list(F.struct("d", "x"))).alias("s")
    )
    nb = (
        arr.withColumn("xs", F.transform(F.col("s"), lambda e: e["x"]))
        .withColumn("idx", asc_seq(F.lit(4), F.size("xs") - 3))
        .select(
            F.explode(
                F.transform(
                    F.col("idx"),
                    lambda j: F.struct(
                        F.element_at(F.col("s"), j)["d"].alias("d"),
                        F.element_at(F.col("xs"), j).alias("x"),
                        F.array_max(F.slice(F.col("xs"), j - 3, 3)).alias(
                            "left_max"
                        ),
                        F.array_max(F.slice(F.col("xs"), j + 1, 3)).alias(
                            "right_max"
                        ),
                    ),
                )
            ).alias("r")
        )
        .select("r.d", "r.x", "r.left_max", "r.right_max")
    )
    return (
        nb.filter((F.col("x") > F.col("left_max")) & (F.col("x") > F.col("right_max")))
        .select(
            F.col("d").alias("day"),
            F.col("x").alias("daily_count"),
            "left_max",
            "right_max",
            (F.col("x") - F.greatest("left_max", "right_max")).alias("prominence"),
        )
        .orderBy(F.desc("prominence"), "day")
        .limit(5)
    )


_CONC_GAP_MIN = 30  # session gap (minutes), same convention as sessionize


def _gap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, ts, is_start, sid): every event marked with its
    per-user session id — a new session starts at a user's first event
    or after a gap of more than ``_CONC_GAP_MIN`` minutes. Two per-user
    windows (the lag, then the running start count), both partitioned
    on user_id."""
    ev = read_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts")).over(wu).cast("long")
    marked = ev.select(
        "user_id", "ts",
        F.when(
            F.lag("ts").over(wu).isNull() | (gap > _CONC_GAP_MIN * 60), 1
        ).otherwise(0).alias("is_start"),
    )
    wcum = Window.partitionBy("user_id").orderBy("ts").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return marked.withColumn("sid", F.sum("is_start").over(wcum))


@query(
    "events_concurrency_peak",
    f"""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) > INTERVAL {_CONC_GAP_MIN} MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_start
      FROM events
    ),
    sessions AS (
      SELECT user_id,
             MIN(ts) AS s_start,
             MAX(ts) + INTERVAL {_CONC_GAP_MIN} MINUTE AS s_end
      FROM (
        SELECT user_id, ts,
               SUM(is_start) OVER (PARTITION BY user_id
                 ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW) AS sid
        FROM marked
      ) GROUP BY user_id, sid
    ),
    boundaries AS (
      SELECT s_start AS t, 1 AS delta FROM sessions
      UNION ALL
      SELECT s_end AS t, -1 AS delta FROM sessions
    ),
    sweep AS (
      SELECT t, SUM(delta) OVER (ORDER BY t, delta
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS live
      FROM boundaries
    )
    SELECT CAST(t AS DATE) AS day, MAX(live) AS peak_concurrency
    FROM sweep GROUP BY CAST(t AS DATE) ORDER BY day
    """,
)
def events_concurrency_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day via the classic sweep-line:
    sessionize (same {_CONC_GAP_MIN}-minute gap rule as
    [[events_sessionize]]), emit +1/−1 boundary events at session
    start/end (+gap), and take the running sum's daily max — the
    capacity number ('how many users at once') that per-day DAU
    ([[events_dau_wau_mau]]) cannot give.

    Determinism: the sweep orders by (t, delta) so an end (−1) at the
    exact instant of a start (+1) is applied FIRST — peak counts never
    depend on engine-internal tie order. All arithmetic is integer.

    Plan (the distributed sweep): one per-user session window, then the
    running sum is SPLIT BY DAY — a per-day partitioned window over that
    day's boundary rows plus a carry of sessions still open at the day
    boundary. The carry comes from the ≤|days|-row per-day net-delta
    frame folded as one sorted array (prefix sums of integers — exact),
    so there is NO global ordered window: the oracle's single sweep
    would single-thread a 100-TB boundary stream; this form shuffles on
    the day key and scales with days × within-day volume.
    """
    sessions = (
        _gap_sessions(spark, sf_dir)
        .groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("s_start"),
            (F.max("ts") + F.expr(f"INTERVAL {_CONC_GAP_MIN} MINUTE")).alias("s_end"),
        )
    )
    boundaries = persist_once(
        sessions.select(F.col("s_start").alias("t"), F.lit(1).alias("delta"))
        .unionByName(
            sessions.select(F.col("s_end").alias("t"), F.lit(-1).alias("delta"))
        )
        .withColumn("day", F.col("t").cast("date"))
    )
    # carry(D) = Σ_{day<D} net(day): prefix sums over the sorted per-day
    # net-delta array (bounded by |days|, exact integers)
    carries = (
        boundaries.groupBy("day")
        .agg(F.sum("delta").alias("net"))
        .groupBy()
        .agg(F.sort_array(F.collect_list(F.struct("day", "net"))).alias("s"))
        .withColumn("idx", asc_seq(F.lit(1), F.size("s")))
        .select(
            F.explode(
                F.transform(
                    F.col("idx"),
                    lambda j: F.struct(
                        F.element_at(F.col("s"), j)["day"].alias("day"),
                        F.aggregate(
                            F.slice(
                                F.transform(F.col("s"), lambda e: e["net"]),
                                1,
                                j - 1,
                            ),
                            F.lit(0).cast("long"),
                            lambda acc, v: acc + v,
                        ).alias("carry"),
                    ),
                )
            ).alias("r")
        )
        .select("r.day", "r.carry")
    )
    wday = Window.partitionBy("day").orderBy("t", "delta").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sweep = boundaries.join(F.broadcast(carries), "day").select(
        "day", (F.col("carry") + F.sum("delta").over(wday)).alias("live")
    )
    return (
        sweep.groupBy("day")
        .agg(F.max("live").alias("peak_concurrency"))
        .orderBy("day")
    )


@query(
    "events_stickiness_ratio",
    """
    WITH au AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    days AS (SELECT DISTINCT d FROM au),
    mau AS (
      SELECT days.d,
             COUNT(DISTINCT au.user_id) AS mau
      FROM days JOIN au
        ON au.d BETWEEN days.d - INTERVAL 29 DAY AND days.d
      GROUP BY days.d
    ),
    dau AS (SELECT d, COUNT(*) AS dau FROM au GROUP BY d)
    SELECT dau.d AS day, dau.dau, mau.mau,
           ROUND(dau.dau / (1.0 * mau.mau), 4) AS stickiness
    FROM dau JOIN mau ON dau.d = mau.d
    ORDER BY day
    """,
)
def events_stickiness_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per day (MAU = trailing-30-day distinct
    users) — the engagement-quality ratio product review reads next to
    raw actives ([[events_dau_wau_mau]] reports the three levels; this
    reports their RATIO on a rolling window, the number that actually
    moves when usage becomes habitual).

    Plan: activity collapses to the (user, day) grid first (one
    distinct), then MAU is a range join of the ~90-row DAY frame
    against that grid — bounded by days × active-users, never the raw
    corpus — and DAU one groupBy. All integers; one division rounded 4.
    """
    au = (
        read_table(spark, sf_dir, "events")
        .select("user_id", F.col("ts").cast("date").alias("d"))
        .distinct()
    )
    days = au.select("d").distinct()
    mau = (
        days.join(
            au.select(F.col("user_id"), F.col("d").alias("ad")),
            (F.col("ad") >= F.date_sub(F.col("d"), 29)) & (F.col("ad") <= F.col("d")),
        )
        .groupBy("d")
        .agg(F.countDistinct("user_id").alias("mau"))
    )
    dau = au.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    return (
        dau.join(mau, "d")
        .select(
            F.col("d").alias("day"),
            "dau",
            "mau",
            F.round(F.col("dau") / (1.0 * F.col("mau")), 4).alias("stickiness"),
        )
        .orderBy("day")
    )


@query(
    "events_rfm_migration",
    """
    WITH bounds AS (
      -- midpoint at integer epoch-microseconds: exact and identical in
      -- both engines (interval halving rounds differently)
      SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS cutoff_us
      FROM events
    ),
    act AS (
      SELECT user_id,
             CASE WHEN epoch_us(ts) < bounds.cutoff_us THEN 1 ELSE 2 END
               AS period
      FROM events, bounds
    ),
    freq AS (
      SELECT period, user_id, COUNT(*) AS n FROM act GROUP BY period, user_id
    ),
    seg AS (
      SELECT period, user_id,
             NTILE(4) OVER (PARTITION BY period ORDER BY n, user_id) AS segment
      FROM freq
    )
    SELECT COALESCE(p1.segment, 0) AS seg_before,
           COALESCE(p2.segment, 0) AS seg_after,
           COUNT(*) AS n_users
    FROM (SELECT user_id, segment FROM seg WHERE period = 1) p1
    FULL OUTER JOIN (SELECT user_id, segment FROM seg WHERE period = 2) p2
      ON p1.user_id = p2.user_id
    GROUP BY COALESCE(p1.segment, 0), COALESCE(p2.segment, 0)
    ORDER BY seg_before, seg_after
    """,
)
def events_rfm_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-segment migration matrix: split the event log at its
    midpoint, quartile users by activity within each half (NTILE over a
    deterministic (count, user_id) order), and count users per
    (segment-before → segment-after) cell, with 0 = absent (new or
    churned) — the segment-flow diagram behind retention dashboards
    ([[rfm_customer_segments]] scores ONE period; this tracks movement
    BETWEEN periods, which is what an intervention actually changes).

    Exactness: the cutoff is the integer epoch-microsecond midpoint
    (interval halving rounds engine-specifically — caught live); all
    counts integer; NTILE's equal-split-remainder-first semantics are
    identical in both engines under the pinned total order. Plan: one
    1-row bounds broadcast over the scan, one (period, user) groupBy,
    one per-period window over the user frame, one full outer join of
    the two ≤|users|-row segment frames.
    """
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us")
    )
    bounds = ev.agg(
        ((F.min("us") + F.max("us")) / 2).cast("long").alias("cutoff_us")
    )
    act = ev.crossJoin(F.broadcast(bounds)).select(
        "user_id",
        F.when(F.col("us") < F.col("cutoff_us"), 1).otherwise(2).alias("period"),
    )
    freq = act.groupBy("period", "user_id").agg(F.count(F.lit(1)).alias("n"))
    wseg = Window.partitionBy("period").orderBy("n", "user_id")
    seg = freq.select("period", "user_id", F.ntile(4).over(wseg).alias("segment"))
    p1 = seg.filter(F.col("period") == 1).select(
        "user_id", F.col("segment").alias("s1")
    )
    p2 = seg.filter(F.col("period") == 2).select(
        "user_id", F.col("segment").alias("s2")
    )
    return (
        p1.join(p2, "user_id", "full_outer")
        .groupBy(
            F.coalesce(F.col("s1"), F.lit(0)).alias("seg_before"),
            F.coalesce(F.col("s2"), F.lit(0)).alias("seg_after"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("seg_before", "seg_after")
    )


_CROSTON_ALPHA = 0.2  # smoothing for both demand-size and interval series


@query(
    "ts_croston_intermittent",
    f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS q
      FROM events WHERE event_type IN ('purchase', 'signup', 'error')
      GROUP BY event_type, d
    ),
    seq0 AS (
      SELECT event_type, d, q,
             COALESCE(DATE_DIFF('day',
               LAG(d) OVER (PARTITION BY event_type ORDER BY d), d), 1) AS g
      FROM daily
    ),
    seq AS (
      SELECT event_type,
             LIST(q ORDER BY d) AS sizes,
             LIST(g ORDER BY d) AS gaps
      FROM seq0 GROUP BY event_type
    ),
    sm AS (
      SELECT event_type,
             LENGTH(sizes) AS n_demand_days,
             list_reduce(list_transform(sizes, x -> x::DOUBLE),
               (acc, x) -> {_CROSTON_ALPHA} * x
                           + {1 - _CROSTON_ALPHA} * acc) AS z,
             list_reduce(list_transform(gaps, x -> x::DOUBLE),
               (acc, x) -> {_CROSTON_ALPHA} * x
                           + {1 - _CROSTON_ALPHA} * acc) AS p
      FROM seq
    )
    SELECT event_type, n_demand_days,
           ROUND(z, 4) AS smoothed_size,
           ROUND(p, 4) AS smoothed_interval,
           ROUND(z / p, 4) AS croston_rate
    FROM sm ORDER BY event_type
    """,
)
def ts_croston_intermittent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method for intermittent demand: per event type, smooth
    the nonzero daily demand SIZES and the INTERVALS between demand days
    as two independent EWMA recursions (α={_CROSTON_ALPHA}) and
    forecast the demand rate z/p — the standard forecaster when a plain
    EWMA ([[ts_ewma_final]]) is biased by the zeros (it smooths toward
    0 between demands; Croston separates 'how much' from 'how often').

    Exactness: sizes are integer counts and gaps integer day diffs; the
    two recursions are order-pinned sequential folds
    (sort_array+aggregate vs LIST ORDER BY+list_reduce — the
    [[ts_ewma_final]] protocol), one division, rounded 4. Plan: one
    (type, day) groupBy, one per-type window for gaps, per-type arrays
    bounded by |days|.
    """
    daily = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "signup", "error"))
        .groupBy("event_type", F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).alias("q"))
    )
    w = Window.partitionBy("event_type").orderBy("d")
    gapped = daily.select(
        "event_type", "d", "q",
        F.coalesce(F.datediff(F.col("d"), F.lag("d").over(w)), F.lit(1)).alias("g"),
    )
    seq = gapped.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("d", "q", "g"))).alias("s")
    )
    sizes = F.transform(F.col("s"), lambda e: e["q"].cast("double"))
    gaps = F.transform(F.col("s"), lambda e: e["g"].cast("double"))

    def croston(arr):
        return F.aggregate(
            F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))),
            F.element_at(arr, 1),
            lambda acc, x: _CROSTON_ALPHA * x + (1 - _CROSTON_ALPHA) * acc,
        )

    return (
        seq.select(
            "event_type",
            F.size("s").alias("n_demand_days"),
            F.round(croston(sizes), 4).alias("smoothed_size"),
            F.round(croston(gaps), 4).alias("smoothed_interval"),
            F.round(croston(sizes) / croston(gaps), 4).alias("croston_rate"),
        )
        .orderBy("event_type")
    )


@query(
    "win_gaps_islands_activity",
    """
    WITH au AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    isl AS (
      SELECT user_id, d,
             d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
                      AS INTEGER) AS island_key
      FROM au
    ),
    islands AS (
      SELECT user_id, island_key, COUNT(*) AS len
      FROM isl GROUP BY user_id, island_key
    )
    SELECT user_id,
           COUNT(*) AS n_islands,
           MAX(len) AS longest_streak_days,
           SUM(len) AS total_active_days
    FROM islands GROUP BY user_id
    ORDER BY longest_streak_days DESC, user_id LIMIT 10
    """,
)
def win_gaps_islands_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands on per-user activity days — the classic
    date-minus-row_number trick: consecutive active days share
    (d − rank), so one groupBy yields each user's streaks; top-10 users
    by longest streak. The streak-length complement of
    [[events_growth_accounting]] (which classifies day-over-day state
    transitions, not runs).

    Exactness: pure integer date arithmetic and counts — no floating
    point. Plan: one distinct to the (user, day) grid, one PER-USER
    window (partitioned — island detection never needs a global sort),
    two groupBys.
    """
    au = (
        read_table(spark, sf_dir, "events")
        .select("user_id", F.col("ts").cast("date").alias("d"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("d")
    isl = au.select(
        "user_id", "d",
        F.date_sub(F.col("d"), F.row_number().over(w)).alias("island_key"),
    )
    islands = isl.groupBy("user_id", "island_key").agg(F.count(F.lit(1)).alias("len"))
    return (
        islands.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_islands"),
            F.max("len").alias("longest_streak_days"),
            F.sum("len").alias("total_active_days"),
        )
        .orderBy(F.desc("longest_streak_days"), "user_id")
        .limit(10)
    )


@query(
    "events_transition_entropy",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    tc AS (
      SELECT event_type AS cur, nxt, COUNT(*) AS c
      FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt
    ),
    row_tot AS (
      SELECT cur, nxt, c,
             SUM(c) OVER (PARTITION BY cur) AS rc,
             SUM(c) OVER () AS n
      FROM tc
    ),
    terms AS (
      SELECT cur, nxt,
             -- joint-weighted conditional-entropy term, quantized to
             -- 1e-12 longs so the cross-cell fold is order-free
             CAST(ROUND((c / (1.0 * n))
                        * LN(rc / (1.0 * c)) * 1000000000000) AS BIGINT)
               AS tq,
             rc, n
      FROM row_tot
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_transitions_kinds,
           ROUND(SUM(tq) / 1000000000000.0 / LN(2), 6)
             AS conditional_entropy_bits
    FROM terms
    """,
)
def events_transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional next-event entropy H(next | current) over the
    per-user event-type chain, in bits — 'how predictable is the next
    action': 0 = deterministic funnels, log₂|types| = pure noise. The
    one-number summary of the transition matrix
    [[events_path_transitions]] lists (and the order-aware complement of
    [[text_source_mix_entropy]]'s static mix).

    Exactness: transition counts and both marginals are exact integers;
    each (cur, next) cell's joint-weighted term is quantized to 1e-12
    longs BEFORE the cross-cell sum (the house quantize-then-aggregate
    protocol), so the fold is order-free; one division + ln2 rescale,
    rounded 6. Plan: one per-user LEAD window, one ≤|types|²-row
    groupBy, windows over that tiny cell frame.
    """
    ev = read_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"), F.lead("event_type").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    tc = seq.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("c"))
    wc = Window.partitionBy("cur")
    tot = tc.agg(F.sum("c").alias("n"))  # 1-row broadcast, not a global window
    terms = tc.crossJoin(F.broadcast(tot)).select(
        "cur",
        "nxt",
        F.round(
            (F.col("c") / (1.0 * F.col("n")))
            * F.log(F.sum("c").over(wc) / (1.0 * F.col("c")))
            * 1_000_000_000_000
        )
        .cast("long")
        .alias("tq"),
    )
    import math

    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_transitions_kinds"),
        F.round(F.sum("tq") / 1_000_000_000_000.0 / math.log(2), 6).alias(
            "conditional_entropy_bits"
        ),
    )


@query(
    "events_midnight_sessions",
    f"""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) > INTERVAL {_CONC_GAP_MIN} MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_start
      FROM events
    ),
    sessions AS (
      SELECT user_id, MIN(ts) AS s_start, MAX(ts) AS s_end
      FROM (
        SELECT user_id, ts,
               SUM(is_start) OVER (PARTITION BY user_id
                 ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW) AS sid
        FROM marked
      ) GROUP BY user_id, sid
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(COUNT(*) FILTER (WHERE CAST(s_start AS DATE)
                                  <> CAST(s_end AS DATE)) AS BIGINT)
             AS n_midnight_spanning,
           ROUND(COUNT(*) FILTER (WHERE CAST(s_start AS DATE)
                                   <> CAST(s_end AS DATE))
                 / (1.0 * COUNT(*)), 6) AS spanning_share,
           ROUND(AVG(DATE_DIFF('second', s_start, s_end)), 2)
             AS mean_session_seconds
    FROM sessions
    """,
)
def events_midnight_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Midnight-spanning session audit: share of {_CONC_GAP_MIN}-minute-gap
    sessions that cross a day boundary, plus mean session length — the
    number that decides whether day-partitioned downstream aggregates
    ([[events_dau_wau_mau]], [[events_concurrency_peak]]'s per-day
    carry) can treat days as independent or must carry cross-midnight
    state. High spanning share ⇒ per-day session metrics double-count.

    Exactness: session bounds are exact timestamps from the standard
    sessionize windows; span test is a date comparison; duration an
    integer second diff (AVG of integers, one division rounded 2).
    Plan: the [[events_sessionize]] per-user windows + ONE aggregate.
    """
    sessions = (
        _gap_sessions(spark, sf_dir)
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    )
    spanning = F.col("s_start").cast("date") != F.col("s_end").cast("date")
    return sessions.agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum(F.when(spanning, 1).otherwise(0)).cast("long").alias(
            "n_midnight_spanning"
        ),
        F.round(
            F.sum(F.when(spanning, 1).otherwise(0)) / (1.0 * F.count(F.lit(1))), 6
        ).alias("spanning_share"),
        F.round(
            F.avg(F.col("s_end").cast("long") - F.col("s_start").cast("long")), 2
        ).alias("mean_session_seconds"),
    )


# ---------------------------------------------------------------------------
# round-8: Theta-method forecast (M3-competition classic)
# ---------------------------------------------------------------------------

_THETA_A = 0.5  # SES smoothing constant on the theta=2 line


@query(
    "ts_theta_forecast",
    f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS y
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    idx AS (
      SELECT event_type, y,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS i
      FROM daily
    ),
    ols AS (
      SELECT event_type, COUNT(*) AS n,
             regr_slope(y, i) AS b, regr_intercept(y, i) AS a
      FROM idx GROUP BY event_type
    ),
    z AS (
      SELECT idx.event_type,
             LIST(2 * y - (a + b * i) ORDER BY i) AS zs,
             ANY_VALUE(n) AS n, ANY_VALUE(a) AS a, ANY_VALUE(b) AS b
      FROM idx JOIN ols USING (event_type)
      GROUP BY idx.event_type
    ),
    ses AS (
      SELECT event_type, n, a, b,
             list_reduce(zs,
               (acc, x) -> {_THETA_A} * x + (1 - {_THETA_A}) * acc) AS l
      FROM z
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_days,
           ROUND(b, 4) AS trend_slope,
           ROUND(l, 4) AS ses_level,
           ROUND(0.5 * (a + b * (n + 3)) + 0.5 * l, 4) AS theta_forecast_h3
    FROM ses ORDER BY event_type
    """,
)
def ts_theta_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-method forecast (Assimakopoulos & Nikolopoulos 2000 — the
    M3-competition winner) of each event type's daily value total: the
    h=3 forecast is the average of the extrapolated OLS trend line
    (theta=0) and SES over the theta=2 line Z_t = 2y_t − (a + b·t).
    Complements [[ts_holt_linear]] (recursive trend state) with the
    decomposition-based classic that wins on monthly/weekly business
    series.

    Exactness: daily totals sum in DECIMAL; the OLS (a, b) come from the
    co-moment `regr_slope/intercept` aggregates (identical co-moment
    algebra both engines); Z_t is per-element identical, and the SES
    left-fold is a SINGLE-SCALAR accumulator — safe in DuckDB's
    list_reduce, unlike the multi-field struct folds the Holt oracle had
    to unroll as a recursive CTE. Plan: one daily pre-aggregate, one
    per-type PARTITIONED rank window, one groupBy fold.
    """
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("y")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    idx = daily.withColumn("i", F.row_number().over(w))
    ols = idx.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.regr_slope("y", "i").alias("b"),
        F.regr_intercept("y", "i").alias("a"),
    )
    z = (
        idx.join(ols, "event_type")
        .groupBy("event_type")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("i", (2 * F.col("y") - (F.col("a") + F.col("b") * F.col("i"))).alias("z"))
                    )
                ),
                lambda s: s["z"],
            ).alias("zs"),
            F.first("n").alias("n"),
            F.first("a").alias("a"),
            F.first("b").alias("b"),
        )
    )
    l = F.aggregate(
        F.slice(F.col("zs"), 2, F.greatest(F.size("zs") - 1, F.lit(0))),
        F.element_at(F.col("zs"), 1),
        lambda acc, x: F.lit(_THETA_A) * x + F.lit(1 - _THETA_A) * acc,
    )
    return z.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        F.round(F.col("b"), 4).alias("trend_slope"),
        F.round(l, 4).alias("ses_level"),
        F.round(
            0.5 * (F.col("a") + F.col("b") * (F.col("n") + 3)) + 0.5 * l, 4
        ).alias("theta_forecast_h3"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# round-8: seasonal-strength diagnostic (Hyndman F_s) on the weekly cycle
# ---------------------------------------------------------------------------


@query(
    "ts_seasonal_strength",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, COUNT(*) AS x
      FROM events GROUP BY CAST(ts AS DATE)
    ),
    idx AS (
      SELECT d, x,
             ROW_NUMBER() OVER (ORDER BY d) AS i,
             COUNT(*) OVER () AS n,
             7 * x - SUM(x) OVER (ORDER BY d
                                  ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
               AS d7
      FROM daily
    ),
    det AS (
      SELECT d, d7, dayofweek(d) + 1 AS dow
      FROM idx WHERE i BETWEEN 4 AND n - 3
    ),
    seas AS (
      SELECT dow, CAST(SUM(d7) AS DOUBLE) / COUNT(*) AS s_dow
      FROM det GROUP BY dow
    ),
    rem AS (
      SELECT d7,
             CAST(ROUND((d7 - s_dow) * 1000000) AS BIGINT) AS r_q
      FROM det JOIN seas USING (dow)
    ),
    agg AS (
      SELECT COUNT(*) AS n,
             SUM(d7) AS sd, SUM(CAST(d7 AS HUGEINT) * d7) AS sdd,
             SUM(r_q) AS sr, SUM(CAST(r_q AS HUGEINT) * r_q) AS srr
      FROM rem
    )
    SELECT CAST(n AS BIGINT) AS n_centered,
           ROUND((CAST(sdd AS DOUBLE) / n
                  - CAST(sd AS DOUBLE) * sd / (CAST(n AS DOUBLE) * n)) / 49.0,
                 4) AS var_detrended,
           ROUND((CAST(srr AS DOUBLE) / n / 1e12
                  - CAST(sr AS DOUBLE) * sr
                    / (CAST(n AS DOUBLE) * n) / 1e12) / 49.0, 4)
             AS var_remainder,
           ROUND(GREATEST(0.0,
                 1 - (CAST(srr AS DOUBLE) / n / 1e12
                      - CAST(sr AS DOUBLE) * sr / (CAST(n AS DOUBLE) * n) / 1e12)
                   / (CAST(sdd AS DOUBLE) / n
                      - CAST(sd AS DOUBLE) * sd / (CAST(n AS DOUBLE) * n))), 4)
             AS seasonal_strength
    FROM agg
    """,
)
def ts_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyndman's seasonal-strength diagnostic on the weekly cycle:
    F_s = max(0, 1 − Var(remainder)/Var(detrended)) over the daily
    event-count series, where detrended = x − MA₇ (kept as the exact
    integer 7x − S₇, the [[ts_stl_decompose_weekly]] device) and the
    remainder subtracts the per-day-of-week seasonal index. F_s near 1
    says the weekly cycle explains the detrended variance — the
    one-number gate for whether a deseasonalized alarm
    ([[ts_cusum_drift]]) is worth running at all.

    Exactness: Σd7 and Σd7² are exact integers (squares in HUGEINT ↔
    decimal(38,0)); the remainder subtracts an identical per-dow double
    and is quantized to 1e-6 longs before ITS sums; both variances share
    the /49 descaling which cancels in the ratio but keeps the reported
    variances in x-units². Day-of-week parity: Spark `dayofweek` is
    1-based Sunday, DuckDB's is 0-based (+1 in the oracle — the house
    pitfall list). Plan: one daily groupBy, the single-array centered
    window, a 7-row seasonal join, one aggregate row.
    """
    daily = (
        read_table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    arr = daily.groupBy().agg(
        F.sort_array(F.collect_list(F.struct("d", "x"))).alias("s")
    )
    det = (
        arr.withColumn("xs", F.transform(F.col("s"), lambda e: e["x"]))
        .withColumn("idx", asc_seq(F.lit(4), F.size("xs") - 3))
        .select(
            F.explode(
                F.transform(
                    F.col("idx"),
                    lambda j: F.struct(
                        F.element_at(F.col("s"), j)["d"].alias("d"),
                        (
                            7 * F.element_at(F.col("xs"), j)
                            - F.aggregate(
                                F.slice(F.col("xs"), j - 3, 7),
                                F.lit(0).cast("long"),
                                lambda acc, v: acc + v,
                            )
                        ).alias("d7"),
                    ),
                )
            ).alias("e")
        )
        .select(F.col("e.d").alias("d"), F.col("e.d7").alias("d7"))
        .withColumn("dow", F.dayofweek("d"))
    )
    det = persist_once(det)
    seas = det.groupBy("dow").agg(
        (F.sum("d7").cast("double") / F.count(F.lit(1))).alias("s_dow")
    )
    r_q = F.round((F.col("d7") - F.col("s_dow")) * 1_000_000).cast("long")
    agg = (
        det.join(seas, "dow")
        .select("d7", r_q.alias("r_q"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("d7").alias("sd"),
            F.sum((F.col("d7").cast("decimal(38,0)") * F.col("d7")).cast("decimal(38,0)")).alias("sdd"),
            F.sum("r_q").alias("sr"),
            F.sum((F.col("r_q").cast("decimal(38,0)") * F.col("r_q")).cast("decimal(38,0)")).alias("srr"),
        )
    )
    n = F.col("n").cast("double")
    var_d = (
        F.col("sdd").cast("double") / n
        - F.col("sd").cast("double") * F.col("sd") / (n * n)
    )
    var_r = (
        F.col("srr").cast("double") / n / 1e12
        - F.col("sr").cast("double") * F.col("sr") / (n * n) / 1e12
    )
    return agg.select(
        F.col("n").cast("long").alias("n_centered"),
        F.round(var_d / 49.0, 4).alias("var_detrended"),
        F.round(var_r / 49.0, 4).alias("var_remainder"),
        F.round(F.greatest(F.lit(0.0), 1 - var_r / var_d), 4).alias(
            "seasonal_strength"
        ),
    )
