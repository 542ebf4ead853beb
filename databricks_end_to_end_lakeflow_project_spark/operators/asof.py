"""As-of (temporal) join: for each left row, the most recent right row
at-or-before its timestamp, per key.

SURVEY.md §2.9 gap fill — the reference has no as-of/temporal joins
(§2.3 "Not present"). Implemented Spark-first with the union + ordered
window + ``last(ignorenulls)`` plan rather than a range join:

Scale notes (100 TB): a naive range-join (``l.ts >= r.ts`` + window to
keep the max) is a near-cartesian explosion per key. The union plan
shuffles BOTH sides ONCE on the join key, sorts within partitions by
(ts, side), and resolves each left row with a running ``last`` — cost is
one shuffle + one sort, identical asymptotics to a sort-merge join, no
intermediate blowup, no skew amplification beyond the key's own row
count. This is the standard distributed as-of strategy (same shape as
Flink temporal joins / kdb aj re-expressed relationally).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from databricks_end_to_end_lakeflow_project_spark.registry import query
from databricks_end_to_end_lakeflow_project_spark.sources.readers import read_table

_SIDE = "__asof_side"  # 0 = right (visible to later lefts), 1 = left


def _asof_union(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
) -> DataFrame:
    """Both sides of an as-of join in one frame: the keys, ``__ts``, the
    side flag (1 = left), every left column and then ``right_cols`` +
    ``right_ts``, each side NULL in the other's columns. ``right_cols``
    excludes the keys and ``right_ts``."""
    lhs = left.select(
        *on,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias(_SIDE),
        *[F.col(c) for c in left.columns if c not in on],
        *[F.lit(None).cast(right.schema[c].dataType).alias(c) for c in right_cols],
        F.lit(None).cast(right.schema[right_ts].dataType).alias(right_ts),
    )
    rhs = right.select(
        *on,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias(_SIDE),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left.columns if c not in on],
        *[F.col(c) for c in right_cols],
        F.col(right_ts),
    )
    return lhs.unionByName(rhs)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    right_cols: Sequence[str],
    strict: bool = False,
    forward: bool = False,
) -> DataFrame:
    """Left as-of join: every ``left`` row keeps all its columns and gains
    ``right_cols`` + ``right_ts`` from the latest ``right`` row with
    ``right_ts <= left_ts`` (``<`` when ``strict``) and equal ``on`` keys;
    NULLs when no prior right row exists. ``forward=True`` flips the
    direction: the EARLIEST right row with ``right_ts >= left_ts``
    (``>`` when strict) — same union + one ordered window, scanning time
    descending instead of ascending.

    ``right`` must be unique per (*on, right_ts*) — pre-aggregate
    otherwise (ties would make the matched payload nondeterministic).
    """
    on = list(on)
    right_cols = [c for c in right_cols if c not in on and c != right_ts]

    union = _asof_union(left, right, on, left_ts, right_ts, right_cols)

    # strict: right rows at ts == left ts must NOT be visible → order
    # them after the left row instead of before. forward scans time
    # descending so "last right seen" is the nearest FUTURE right.
    side_order = F.col(_SIDE).desc() if strict else F.col(_SIDE).asc()
    ts_order = F.col("__ts").desc() if forward else F.col("__ts").asc()
    w = (
        Window.partitionBy(*on)
        .orderBy(ts_order, side_order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    resolved = union.select(
        "*",
        *[F.last(c, ignorenulls=True).over(w).alias(f"__m_{c}") for c in [*right_cols, right_ts]],
    )
    keep = [c for c in left.columns if c not in on]
    return (
        resolved.filter(F.col(_SIDE) == 1)
        .select(
            *on,
            *keep,
            *[F.col(f"__m_{c}").alias(c) for c in [right_ts, *right_cols]],
        )
    )


@query(
    "join_asof_backward",
    """
    WITH clicks AS (
      SELECT user_id, ts AS click_ts, arg_max(value, event_id) AS click_value
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    ), purchases AS (
      SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, p.ts, p.value,
           c.click_ts, c.click_value
    FROM purchases p ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.click_ts
    """,
)
def join_asof_backward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution as-of join: each purchase event matched to the user's
    most recent at-or-before click (DuckDB ``ASOF LEFT JOIN`` oracle)."""
    ev = read_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", F.col("ts").alias("click_ts"))
        .agg(F.max_by("value", "event_id").alias("click_value"))
    )
    return asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="click_ts",
        right_cols=["click_value"],
    )


def gapfill_spine(
    df: DataFrame,
    ts_col: str,
    step: str = "1 hour",
    unit: str = "hour",
) -> DataFrame:
    """Dense time spine covering [min, max] of ``ts_col`` truncated to
    ``unit``, one row per ``step``. Generated from the single (min, max)
    aggregate row via `sequence` + `explode` — the spine costs one
    all-to-one aggregate regardless of table size."""
    bounds = df.agg(
        F.date_trunc(unit, F.min(ts_col)).alias("lo"),
        F.date_trunc(unit, F.max(ts_col)).alias("hi"),
    )
    return bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr(f"INTERVAL {step}"))
        ).alias("bucket")
    )


@query(
    "ts_gapfill_hourly",
    """
    WITH spine AS (
      SELECT UNNEST(GENERATE_SERIES(
               DATE_TRUNC('hour', (SELECT MIN(ts) FROM events)),
               DATE_TRUNC('hour', (SELECT MAX(ts) FROM events)),
               INTERVAL 1 HOUR)) AS bucket
    ), types AS (
      SELECT DISTINCT event_type FROM events
    ), counts AS (
      SELECT DATE_TRUNC('hour', ts) AS bucket, event_type,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
      FROM events GROUP BY 1, 2
    )
    SELECT spine.bucket, types.event_type,
           COALESCE(counts.n_events, 0) AS n_events,
           COALESCE(counts.total_cents, 0) AS total_cents
    FROM spine CROSS JOIN types
    LEFT JOIN counts ON counts.bucket = spine.bucket
                    AND counts.event_type = types.event_type
    """,
)
def ts_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap-fill (resample to a dense grid): hourly event
    counts per event type with missing (hour × type) buckets zero-filled —
    the operator behind monitoring dashboards and regular-grid feature
    frames, which a plain GROUP BY cannot produce (absent groups don't
    exist to count).

    Plan: aggregate once per (hour, type); build the dense spine from the
    single (min, max) row; cross the spine with the distinct types (both
    tiny → broadcast); left-join the real counts back. The only shuffle of
    table-sized data is the initial aggregation — the spine side scales
    with time-range × type-cardinality, not row count."""
    ev = read_table(spark, sf_dir, "events")
    counts = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("bucket"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("total_cents"),
    )
    spine = gapfill_spine(ev, "ts", "1 hour", "hour").crossJoin(
        ev.select("event_type").distinct()
    )
    return (
        spine.join(counts, ["bucket", "event_type"], "left")
        .select(
            "bucket",
            "event_type",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce("total_cents", F.lit(0)).alias("total_cents"),
        )
    )


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    right_cols: Sequence[str],
    tolerance_us: int,
) -> DataFrame:
    """Nearest as-of join: every ``left`` row gains the ``right`` row
    whose timestamp is CLOSEST in either direction, within
    ``tolerance_us`` microseconds; ties (equal backward/forward
    distance) resolve backward. NULL payload when nothing is in range.

    Plan shape: the same union strategy as :func:`asof_join`, but both
    direction resolutions come out of ONE exchange — the backward
    candidate is ``last(right)`` over an ascending (ts, right-first)
    sort and the forward candidate is ``first(right)`` over the
    following frame of an ascending (ts, left-first) sort. Same
    partitioning, two sorts, zero extra shuffles — at 100 TB this costs
    exactly what a single sort-merge join costs, while the naive
    two-asof-joins-then-self-join plan would shuffle three times.
    """
    on = list(on)
    right_cols = [c for c in right_cols if c not in on and c != right_ts]

    union = _asof_union(left, right, on, left_ts, right_ts, right_cols)
    payload = [*right_cols, right_ts]

    # backward: right rows sort BEFORE a left row at equal ts → running
    # last() sees at-or-before matches. forward: right rows sort AFTER →
    # first() over the following frame sees at-or-after matches.
    w_b = (
        Window.partitionBy(*on)
        .orderBy(F.col("__ts").asc(), F.col(_SIDE).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_f = (
        Window.partitionBy(*on)
        .orderBy(F.col("__ts").asc(), F.col(_SIDE).desc())
        .rowsBetween(0, Window.unboundedFollowing)
    )
    resolved = union.select(
        "*",
        *[F.last(c, ignorenulls=True).over(w_b).alias(f"__b_{c}") for c in payload],
        *[F.first(c, ignorenulls=True).over(w_f).alias(f"__f_{c}") for c in payload],
    )

    b_ts, f_ts = F.col(f"__b_{right_ts}"), F.col(f"__f_{right_ts}")
    b_diff = F.unix_micros(F.col("__ts")) - F.unix_micros(b_ts)
    f_diff = F.unix_micros(f_ts) - F.unix_micros(F.col("__ts"))
    b_ok = b_ts.isNotNull() & (b_diff <= tolerance_us)
    f_ok = f_ts.isNotNull() & (f_diff <= tolerance_us)
    use_b = b_ok & (~f_ok | (b_diff <= f_diff))
    use_f = f_ok & ~use_b

    keep = [c for c in left.columns if c not in on]
    picked = [
        F.when(use_b, F.col(f"__b_{c}")).when(use_f, F.col(f"__f_{c}")).alias(c)
        for c in [right_ts, *right_cols]
    ]
    delta = (
        F.when(use_b, b_diff).when(use_f, f_diff).cast("long").alias("delta_us")
    )
    direction = (
        F.when(use_b, F.lit("backward"))
        .when(use_f, F.lit("forward"))
        .alias("matched_dir")
    )
    return (
        resolved.filter(F.col(_SIDE) == 1)
        .select(*on, *keep, *picked, delta, direction)
    )


_NEAREST_TOL_US = 900 * 1_000_000  # 15 minutes


@query(
    "join_asof_nearest",
    f"""
    WITH clicks AS (
      SELECT user_id, ts AS click_ts, arg_max(value, event_id) AS click_value
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    ), purchases AS (
      SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
    ), b AS (
      SELECT p.event_id, c.click_ts AS b_ts, c.click_value AS b_val
      FROM purchases p ASOF LEFT JOIN clicks c
        ON p.user_id = c.user_id AND p.ts >= c.click_ts
    ), f AS (
      SELECT p.event_id, c.click_ts AS f_ts, c.click_value AS f_val
      FROM purchases p ASOF LEFT JOIN clicks c
        ON p.user_id = c.user_id AND p.ts <= c.click_ts
    ), j AS (
      SELECT p.*, b_ts, b_val, f_ts, f_val,
             epoch_us(p.ts) - epoch_us(b_ts) AS b_diff,
             epoch_us(f_ts) - epoch_us(p.ts) AS f_diff,
             b_ts IS NOT NULL AND epoch_us(p.ts) - epoch_us(b_ts) <= {_NEAREST_TOL_US} AS b_ok,
             f_ts IS NOT NULL AND epoch_us(f_ts) - epoch_us(p.ts) <= {_NEAREST_TOL_US} AS f_ok
      FROM purchases p JOIN b USING (event_id) JOIN f USING (event_id)
    )
    SELECT event_id, user_id, ts, value,
           CASE WHEN b_ok AND (NOT f_ok OR b_diff <= f_diff) THEN b_ts
                WHEN f_ok THEN f_ts END AS click_ts,
           CASE WHEN b_ok AND (NOT f_ok OR b_diff <= f_diff) THEN b_val
                WHEN f_ok THEN f_val END AS click_value,
           CASE WHEN b_ok AND (NOT f_ok OR b_diff <= f_diff) THEN b_diff
                WHEN f_ok THEN f_diff END AS delta_us,
           CASE WHEN b_ok AND (NOT f_ok OR b_diff <= f_diff) THEN 'backward'
                WHEN f_ok THEN 'forward' END AS matched_dir
    FROM j
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-click attribution within a ±15 min tolerance: each
    purchase matched to the user's temporally closest click in either
    direction (tie → the earlier click). The DuckDB oracle needs two
    ASOF joins plus a re-join; the Spark plan resolves both directions
    from one exchange (see :func:`asof_join_nearest`)."""
    ev = read_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", F.col("ts").alias("click_ts"))
        .agg(F.max_by("value", "event_id").alias("click_value"))
    )
    return asof_join_nearest(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="click_ts",
        right_cols=["click_value"],
        tolerance_us=_NEAREST_TOL_US,
    )


@query(
    "join_temporal_scd2",
    """
    WITH clicks AS (
      SELECT user_id, ts, event_id,
             CASE WHEN value < 5 THEN 'low'
                  WHEN value < 15 THEN 'mid'
                  ELSE 'high' END AS tier
      FROM events WHERE event_type = 'click'
    ), dedup AS (
      SELECT user_id, ts, tier FROM (
        SELECT user_id, ts, tier,
               ROW_NUMBER() OVER (
                 PARTITION BY user_id, ts ORDER BY event_id DESC
               ) AS rn
        FROM clicks
      ) t WHERE rn = 1
    ), flagged AS (
      SELECT user_id, ts, tier,
             LAG(tier) OVER w IS DISTINCT FROM tier AS chg
      FROM dedup
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), dim AS (
      SELECT user_id, tier,
             ts AS start_at,
             LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts) AS end_at
      FROM flagged WHERE chg
    )
    SELECT d.tier, COUNT(*) AS n_purchases,
           ROUND(SUM(CAST(p.value AS DECIMAL(18,2))), 2)::DOUBLE AS revenue
    FROM events p
    JOIN dim d ON p.user_id = d.user_id
              AND p.ts >= d.start_at
              AND (d.end_at IS NULL OR p.ts < d.end_at)
    WHERE p.event_type = 'purchase'
    GROUP BY d.tier
    ORDER BY d.tier
    """,
)
def join_temporal_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal dimension join — the canonical lakehouse pattern the
    SCD2 machinery exists FOR: attribute each fact row (purchases) with
    the dimension version valid AT ITS EVENT TIME, by joining into the
    ``[__START_AT, __END_AT)`` validity intervals of an SCD2 history
    (here: a per-user engagement tier derived from click values,
    versioned with :func:`cdc.scd2_from_history`).

    Scale design: the join carries an EQUI key (user_id) plus the
    interval predicate, so Catalyst plans a hash/sort-merge join on
    user_id with the range condition as a post-join filter — the
    explosion is bounded by versions-per-user, never cross-user. The
    revenue measure uses exact decimal so the result is
    reduction-order-independent (cluster-deterministic). A dimension
    keyed without an equi component would instead use the union+window
    as-of plan (`asof_join`) on __START_AT with an __END_AT guard.
    """
    from databricks_end_to_end_lakeflow_project_spark.functions.compat import dsum, money
    from databricks_end_to_end_lakeflow_project_spark.operators.cdc import (
        scd2_from_history,
    )

    ev = read_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("value") < 5, "low")
        .when(F.col("value") < 15, "mid")
        .otherwise("high")
        .alias("tier"),
    )
    dim = scd2_from_history(clicks, ["user_id"], "ts", tiebreakers=["event_id"])
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    joined = purchases.join(
        dim,
        (purchases["user_id"] == dim["user_id"])
        & (purchases["ts"] >= dim["__START_AT"])
        & (dim["__END_AT"].isNull() | (purchases["ts"] < dim["__END_AT"])),
    )
    return (
        joined.groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            dsum(money(purchases["value"])).alias("revenue"),
        )
        .orderBy("tier")
    )


@query(
    "join_asof_forward",
    """
    WITH clicks AS (
      SELECT user_id, ts AS click_ts, arg_max(value, event_id) AS click_value
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    ), purchases AS (
      SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, p.ts, p.value,
           c.click_ts, c.click_value
    FROM purchases p ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts <= c.click_ts
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each purchase matched to the user's next
    at-or-after click (post-purchase behavior attribution) — the mirror
    of `join_asof_backward`, same union + single ordered window, time
    scanned descending (DuckDB forward ``ASOF LEFT JOIN`` oracle)."""
    ev = read_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", F.col("ts").alias("click_ts"))
        .agg(F.max_by("value", "event_id").alias("click_value"))
    )
    return asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="click_ts",
        right_cols=["click_value"],
        forward=True,
    )


@query(
    "join_asof_tolerance",
    """
    WITH clicks AS (
      SELECT user_id, ts AS click_ts, arg_max(value, event_id) AS click_value
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    ), purchases AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase'
    ), matched AS (
      SELECT p.event_id, p.user_id, p.ts, p.value, c.click_ts, c.click_value
      FROM purchases p ASOF LEFT JOIN clicks c
        ON p.user_id = c.user_id AND p.ts >= c.click_ts
    )
    SELECT event_id, user_id, ts, value,
           CASE WHEN click_ts >= ts - INTERVAL 1 HOUR THEN click_ts END
             AS click_ts,
           CASE WHEN click_ts >= ts - INTERVAL 1 HOUR THEN click_value END
             AS click_value,
           COALESCE(click_ts >= ts - INTERVAL 1 HOUR, FALSE) AS within_tolerance
    FROM matched
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a MATCH TOLERANCE (pandas `merge_asof(tolerance=)`
    semantics): each purchase takes the user's most recent at-or-before
    click only if it is within 1 hour — staler matches are nulled, not
    substituted by older ones. The attribution-window variant of
    `join_asof_backward`; the tolerance is applied AFTER the as-of
    resolution, so the plan is the same union + one per-key ordered
    window plus a row-local predicate (zero extra shuffles).
    """
    ev = read_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", F.col("ts").alias("click_ts"))
        .agg(F.max_by("value", "event_id").alias("click_value"))
    )
    matched = asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="click_ts",
        right_cols=["click_value"],
    )
    ok = F.col("click_ts") >= F.col("ts") - F.expr("INTERVAL 1 HOUR")
    return matched.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.when(ok, F.col("click_ts")).alias("click_ts"),
        F.when(ok, F.col("click_value")).alias("click_value"),
        F.coalesce(ok, F.lit(False)).alias("within_tolerance"),
    )
