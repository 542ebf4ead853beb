"""Statistical aggregates: moments, correlation/regression, exact
percentiles, ordered string aggregation, and wide→long unpivot.

§2.9 gap-fill additions beyond the reference's COUNT/MAX-only aggregate
surface (SURVEY.md §2.4) — the descriptive-statistics layer any analytics
engine needs for data profiling and quality monitoring.

Oracle notes: Spark's `skewness`/`kurtosis` are POPULATION moments (g1,
excess g2) while DuckDB's builtins are sample-corrected (G1, G2), so the
oracle computes the population form explicitly from centered moments via a
two-level aggregation — same math, independently expressed. All
double-valued statistics are rounded before hashing; sums that feed means
use the exact-decimal pattern where money is involved.

Scale notes (100 TB): every statistic here is a partial-aggregatable
moment sketch (sum of powers / co-moments), so map-side combine keeps
shuffles at one row per group; `percentile`/`median` are the exception —
they buffer per-group values and belong on bounded-cardinality groups (use
`approx_percentile` for raw 100 TB columns).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from databricks_end_to_end_lakeflow_project_spark.operators.scalerank import (
    RankSpec,
    monotone_bin_value,
    with_global_ranks,
    with_ntile,
)
from databricks_end_to_end_lakeflow_project_spark.functions.compat import asc_seq
from databricks_end_to_end_lakeflow_project_spark.registry import query
from databricks_end_to_end_lakeflow_project_spark.sources.readers import read_table


@query(
    "agg_stats_moments",
    """
    WITH mu AS (
      SELECT l_returnflag AS grp, AVG(l_quantity) AS m
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           COUNT(*) AS n,
           ROUND(STDDEV_SAMP(l_quantity), 4) AS sd_qty,
           ROUND(VAR_SAMP(l_quantity), 4) AS var_qty,
           -- "+ 0" normalizes IEEE negative zero (the repo-wide idiom,
           -- see events_markov_attribution): a near-symmetric group's
           -- skew is ~±1e-5 and DuckDB's ROUND keeps the sign (-0.0)
           -- while Spark's ROUND goes through BigDecimal, which has no
           -- signed zero (caught by the round-9 sf0.001 full sweep)
           ROUND(AVG(POW(l_quantity - m, 3))
                 / POW(AVG(POW(l_quantity - m, 2)), 1.5), 4) + 0 AS skew_qty,
           ROUND(AVG(POW(l_quantity - m, 4))
                 / POW(AVG(POW(l_quantity - m, 2)), 2) - 3, 4) + 0 AS kurt_qty
    FROM lineitem JOIN mu ON l_returnflag = mu.grp
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moment statistics per return flag: sample stddev/variance plus
    population skewness and excess kurtosis. One shuffle; every statistic
    partial-aggregates as power sums. The oracle derives the population
    moments explicitly (DuckDB's skewness/kurtosis builtins are
    sample-corrected — different estimator, same data)."""
    li = read_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.stddev_samp(q), 4).alias("sd_qty"),
            F.round(F.var_samp(q), 4).alias("var_qty"),
            F.round(F.skewness(q), 4).alias("skew_qty"),
            F.round(F.kurtosis(q), 4).alias("kurt_qty"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_corr_regr",
    """
    SELECT l_returnflag,
           ROUND(CORR(l_quantity, l_extendedprice), 4) AS corr_qty_price,
           ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 2) AS covar_qty_price,
           ROUND(REGR_SLOPE(l_extendedprice, l_quantity), 2) AS slope_price_on_qty,
           ROUND(REGR_INTERCEPT(l_extendedprice, l_quantity), 2) AS intercept_price_on_qty
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def agg_corr_regr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics per group: correlation, sample covariance, and
    the least-squares line of price on quantity — all co-moment sketches
    (partial-aggregatable, one shuffle)."""
    li = read_table(spark, sf_dir, "lineitem")
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.corr(q, p), 4).alias("corr_qty_price"),
            F.round(F.covar_samp(q, p), 2).alias("covar_qty_price"),
            F.round(F.regr_slope(p, q), 2).alias("slope_price_on_qty"),
            F.round(F.regr_intercept(p, q), 2).alias("intercept_price_on_qty"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_percentile_median",
    """
    SELECT o_orderpriority,
           ROUND(MEDIAN(o_totalprice), 2) AS p50,
           ROUND(QUANTILE_CONT(o_totalprice, 0.25), 2) AS p25,
           ROUND(QUANTILE_CONT(o_totalprice, 0.95), 2) AS p95
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def agg_percentile_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of order value per priority class.
    `percentile` buffers each group's values — correct here because the
    group count is 5; the 100 TB path for raw columns is
    `approx_percentile` (t-digest sketch, partial-aggregatable)."""
    od = read_table(spark, sf_dir, "orders")
    p = F.col("o_totalprice")
    return (
        od.groupBy("o_orderpriority")
        .agg(
            F.round(F.median(p), 2).alias("p50"),
            F.round(F.percentile(p, 0.25), 2).alias("p25"),
            F.round(F.percentile(p, 0.95), 2).alias("p95"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "fn_listagg_ordered",
    """
    SELECT n_regionkey,
           STRING_AGG(n_name, ',' ORDER BY n_name) AS nations
    FROM nation
    GROUP BY n_regionkey
    ORDER BY n_regionkey
    """,
)
def fn_listagg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ordered string aggregation (LISTAGG ... WITHIN GROUP):
    collect_list → array_sort → concat_ws. The explicit sort makes the
    result reduction-order-independent — collect_list alone is not
    cluster-deterministic."""
    na = read_table(spark, sf_dir, "nation")
    return (
        na.groupBy("n_regionkey")
        .agg(F.concat_ws(",", F.array_sort(F.collect_list("n_name"))).alias("nations"))
        .orderBy("n_regionkey")
    )


@query(
    "agg_unpivot_melt",
    """
    WITH wide AS (
      SELECT o_orderpriority,
             COUNT(*)::DOUBLE AS n_orders,
             ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)::DOUBLE AS total_value,
             ROUND(AVG(o_totalprice), 2) AS avg_value
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, measure, value FROM wide
    UNPIVOT (value FOR measure IN (n_orders, total_value, avg_value))
    ORDER BY o_orderpriority, measure
    """,
)
def agg_unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape: aggregate three measures per priority, then
    `unpivot` (melt) them into (group, measure, value) rows — the inverse
    of `agg_pivot`. Unpivot is a zero-shuffle narrow transform: each wide
    row expands to #measures long rows in place."""
    od = read_table(spark, sf_dir, "orders")
    wide = od.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("double").alias("n_orders"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("total_value"),
        F.round(F.avg("o_totalprice"), 2).alias("avg_value"),
    )
    return wide.unpivot(
        ["o_orderpriority"],
        ["n_orders", "total_value", "avg_value"],
        "measure",
        "value",
    ).orderBy("o_orderpriority", "measure")


@query(
    "profile_numeric_columns",
    """
    SELECT 'l_quantity' AS column_name, COUNT(*) AS n,
           CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           MIN(l_quantity) AS min_v, MAX(l_quantity) AS max_v,
           ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2)))::DOUBLE / COUNT(*), 6) AS mean_v
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', COUNT(*),
           CAST(SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           MIN(l_extendedprice), MAX(l_extendedprice),
           ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))::DOUBLE / COUNT(*), 6)
    FROM lineitem
    UNION ALL
    SELECT 'l_discount', COUNT(*),
           CAST(SUM(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           MIN(l_discount), MAX(l_discount),
           ROUND(SUM(CAST(l_discount AS DECIMAL(18,2)))::DOUBLE / COUNT(*), 6)
    FROM lineitem
    """,
)
def profile_numeric_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiling: per-column (count, nulls, min, max, mean) for the
    fact table's numeric columns, in long form — the summary() / data-
    quality-dashboard primitive.

    ONE scan computes every per-column aggregate side by side (a wide
    single-row aggregate — Spark evaluates all of them in the same
    partial-agg pass); `stack` unpivots the row to long form afterwards,
    so the plan costs one pass + a 3-row transpose regardless of how many
    columns are profiled. Means divide exact-decimal sums by counts, so
    values hash-match the oracle despite being doubles."""
    li = read_table(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("long").alias(f"{c}__nn"),
            F.min(c).alias(f"{c}__mn"),
            F.max(c).alias(f"{c}__mx"),
            F.round(
                F.sum(F.col(c).cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias(f"{c}__mean"),
        ]
    wide = li.agg(*aggs)
    stack_expr = ", ".join(
        f"'{c}', {c}__n, {c}__nn, {c}__mn, {c}__mx, {c}__mean" for c in cols
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stack_expr}) AS "
        "(column_name, n, n_null, min_v, max_v, mean_v)"
    )


@query(
    "agg_approx_percentile",
    """
    SELECT l_returnflag, COUNT(*) AS n_rows,
           TRUE AS p50_in_bounds, TRUE AS p95_in_bounds, TRUE AS p99_in_bounds
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate p50/p95/p99 of extended price per return flag via
    Spark's Greenwald-Khanna quantile sketch (accuracy 1/10000). The
    sketch is mergeable — partial per-partition summaries combine
    map-side, so the shuffle carries sketches, not rows: the 100 TB
    answer to percentiles (the exact `agg_percentile_median` query is
    the small-data / oracle baseline).

    The returned values are engine-specific, so the HASHED output is the
    GK CONTRACT instead of the digits: for each quantile q the sketch's
    value v must be an actual element whose exact-rank interval
    [#(<v)+1, #(≤v)] intersects [⌈q·n⌉ − εn − 1, ⌈q·n⌉ + εn + 1] with
    ε = 1/accuracy — verified by a second conditional-aggregate pass
    (the sketch values travel back as a |groups|-row literal map, a
    bounded model-moves collect). The DuckDB oracle checks exact group
    counts and literal TRUE flags — a hash-exact gate on a guarantee an
    approximate operator can actually make."""
    li = read_table(spark, sf_dir, "lineitem")
    qs = [0.5, 0.95, 0.99]
    approx = (
        li.groupBy("l_returnflag")
        .agg(F.percentile_approx("l_extendedprice", qs, 10000).alias("p"))
        .collect()
    )
    pv = {r["l_returnflag"]: r["p"] for r in approx}
    eps = 1.0 / 10000
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for i, q in enumerate(qs):
        flat = []
        for g, p in pv.items():
            flat += [F.lit(g), F.lit(float(p[i]))]
        v = F.element_at(F.create_map(*flat), F.col("l_returnflag"))
        aggs.append(F.sum((F.col("l_extendedprice") < v).cast("long")).alias(f"__lt{i}"))
        aggs.append(F.sum((F.col("l_extendedprice") <= v).cast("long")).alias(f"__le{i}"))
    checked = li.groupBy("l_returnflag").agg(*aggs)
    cols = [F.col("l_returnflag"), F.col("n_rows")]
    for i, (q, nm) in enumerate(zip(qs, ["p50", "p95", "p99"])):
        target = F.ceil(F.lit(q) * F.col("n_rows"))
        tol = F.lit(eps) * F.col("n_rows") + 1
        ok = (F.col(f"__le{i}") >= target - tol) & (F.col(f"__lt{i}") < target + tol)
        cols.append(ok.alias(f"{nm}_in_bounds"))
    return checked.select(*cols)


@query(
    "agg_histogram_price_bins",
    """
    SELECT CAST(FLOOR(l_extendedprice / 10000) AS INT) AS bin,
           COUNT(*) AS n,
           ROUND(MIN(l_extendedprice), 2) AS lo,
           ROUND(MAX(l_extendedprice), 2) AS hi,
           ROUND(COUNT(*)::DOUBLE / SUM(COUNT(*)) OVER (), 4) AS share
    FROM lineitem
    GROUP BY 1
    """,
)
def agg_histogram_price_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of extended price ($10k bins): per-bin
    count, observed min/max, and share of total. The bin id is plain
    arithmetic on the scan (no pre-pass for global min/max), so the
    whole histogram is one map-side-combinable aggregate — one shuffle
    of |bins| rows regardless of input size; the share normalization is
    a 1-row broadcast grand-total join against the PERSISTED binned
    frame (both consumers read the cache — one fact scan), keeping the
    registry's zero-unpartitioned-window invariant absolute instead of
    whitelisting a bounded-frame window."""
    li = read_table(spark, sf_dir, "lineitem")
    binned = li.groupBy(
        F.floor(F.col("l_extendedprice") / 10000).cast("int").alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("l_extendedprice"), 2).alias("lo"),
        F.round(F.max("l_extendedprice"), 2).alias("hi"),
    ).persist()
    total = binned.agg(F.sum("n").alias("__tot"))
    return (
        binned.crossJoin(F.broadcast(total))
        .select(
            "bin",
            "n",
            "lo",
            "hi",
            F.round(F.col("n").cast("double") / F.col("__tot"), 4).alias("share"),
        )
    )


@query(
    "agg_theta_sketch_sets",
    """
    SELECT
      (SELECT COUNT(DISTINCT o_custkey) FROM orders
       WHERE o_orderpriority = '1-URGENT') AS n_urgent,
      (SELECT COUNT(DISTINCT o_custkey) FROM orders
       WHERE o_orderpriority = '2-HIGH') AS n_high,
      (SELECT COUNT(DISTINCT o_custkey) FROM orders
       WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')) AS n_union,
      (SELECT COUNT(*) FROM
        ((SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
         INTERSECT
         (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH')))
        AS n_intersect,
      (SELECT COUNT(*) FROM
        ((SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
         EXCEPT
         (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH')))
        AS n_only_urgent
    """,
)
def agg_theta_sketch_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-set algebra on Theta sketches (Spark 4 DataSketches):
    per-priority customer sketches built in one scan, then union /
    intersection / difference computed ON THE SKETCHES — no re-scan, no
    distinct shuffle per set expression. This is the 100 TB pattern for
    COUNT(DISTINCT) set arithmetic: sketches are map-side-combinable
    and bytes-sized, so each extra set question costs sketch math, not
    a pass over the data. Theta sketches are EXACT below their nominal
    k entries, and k is a per-use-case dial: the default lgK=12 (4096)
    went estimative between sf0.01 (~1.3k customers/priority, exact)
    and sf0.1 (~13k, ±1% estimates — caught live by the sf0.1 oracle
    sweep), so this query pins lgK=16 (65k nominal, ≤1 MB sketch),
    keeping every set answer exact through the correctness-gate scales
    while remaining a genuine mergeable sketch; at 100 TB you would
    drop k back down and accept the published ~1.6% bound the exact
    EXCEPT/INTERSECT oracle cannot match. The union must carry the
    SAME lgK — a default-k union would downsample both inputs to 4096
    before merging."""
    _LGK = 16
    o = read_table(spark, sf_dir, "orders")
    sk = (
        o.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy("o_orderpriority")
        .agg(F.theta_sketch_agg("o_custkey", _LGK).alias("sk"))
    )
    a = sk.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("sk").alias("a")
    )
    b = sk.filter(F.col("o_orderpriority") == "2-HIGH").select(
        F.col("sk").alias("b")
    )
    pair = a.crossJoin(F.broadcast(b))  # 1 row × 1 row
    return pair.select(
        F.theta_sketch_estimate("a").alias("n_urgent"),
        F.theta_sketch_estimate("b").alias("n_high"),
        F.theta_sketch_estimate(F.theta_union("a", "b", _LGK)).alias("n_union"),
        F.theta_sketch_estimate(F.theta_intersection("a", "b")).alias("n_intersect"),
        F.theta_sketch_estimate(F.theta_difference("a", "b")).alias("n_only_urgent"),
    )


def misra_gries_partial(df: DataFrame, col: str, capacity: int = 256) -> DataFrame:
    """Per-partition Misra-Gries heavy-hitters summaries: ≤ ``capacity``
    (item, weight) rows per partition, where weight underestimates the
    partition-local count by at most n_partition/capacity.

    Mergeable by summing weights (the classic MG merge bound compounds
    additively), so the downstream shuffle moves at most
    partitions × capacity rows no matter how large the vocabulary is —
    the 100 TB alternative to a full-vocabulary groupBy.
    """
    import pandas as pd

    def summarize(batches):
        counters: dict = {}
        for pdf in batches:
            # vectorized per-batch exact counts, then MG-merge + compress
            for item, c in pdf[col].value_counts().items():
                counters[item] = counters.get(item, 0) + int(c)
            if len(counters) > capacity:
                # subtract the (capacity+1)-th largest weight, drop <= 0
                cut = sorted(counters.values(), reverse=True)[capacity]
                counters = {t: w - cut for t, w in counters.items() if w > cut}
        yield pd.DataFrame(
            {"item": list(counters.keys()), "weight": list(counters.values())}
        )

    return df.select(F.col(col).alias(col)).mapInPandas(
        summarize, schema="item string, weight long"
    )


def heavy_hitters_topk(
    df: DataFrame, col: str, k: int = 10, capacity: int = 256
) -> DataFrame:
    """Exact global top-k frequent items via a two-pass sketch-then-verify
    plan: (1) per-partition Misra-Gries summaries nominate candidates —
    any item with true count > n/capacity survives, so with capacity ≫ k
    the candidate set provably contains the true top-k; (2) a second scan
    counts ONLY the candidates exactly (broadcast semi-join, map-side
    combinable agg). Returns (item, cnt) for the true top-k, ties broken
    by item.

    Scale: pass 1 shuffles ≤ partitions×capacity rows; pass 2 shuffles
    ≤ candidates rows. A direct groupBy would shuffle the full
    vocabulary."""
    candidates = (
        misra_gries_partial(df, col, capacity)
        .groupBy("item")
        .agg(F.sum("weight").alias("w"))
        .orderBy(F.col("w").desc(), "item")
        .limit(capacity)
        .select(F.col("item").alias(col))
    )
    exact = (
        df.join(F.broadcast(candidates), col, "left_semi")
        .groupBy(col)
        .agg(F.count("*").alias("cnt"))
    )
    return (
        exact.orderBy(F.col("cnt").desc(), col)
        .limit(k)
        .select(F.col(col).alias("item"), "cnt")
    )


@query(
    "text_heavy_hitters_topk",
    """
    SELECT token AS item, COUNT(*) AS cnt
    FROM (SELECT UNNEST(string_split(trim(text), ' ')) AS token FROM documents) t
    GROUP BY token
    ORDER BY cnt DESC, item
    LIMIT 10
    """,
)
def text_heavy_hitters_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 most frequent tokens in the corpus, computed with the
    Misra-Gries sketch-then-verify plan (exact result, bounded shuffle) —
    hash-matched against the oracle's exact full groupBy, which proves
    the candidate stage never drops a true heavy hitter here."""
    docs = read_table(spark, sf_dir, "documents")
    # the sketch-then-verify kernel scans its input twice (nominate, then
    # count candidates exactly): persist the token stream so the corpus
    # tokenizes once per run — the second pass reads the (disk-spillable)
    # cache instead of re-running the explode
    from databricks_end_to_end_lakeflow_project_spark.session import persist_once

    tok = persist_once(
        docs.select(F.explode(F.split(F.trim(F.col("text")), " ")).alias("token"))
    )
    return heavy_hitters_topk(tok, "token", k=10, capacity=256)


@query(
    "integrity_table_fingerprint",
    """
    SELECT CAST(user_id % 16 AS INT) AS shard,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(('0x' || substr(
                 md5(CAST(event_id AS VARCHAR) || chr(31)
                     || CAST(user_id AS VARCHAR) || chr(31)
                     || event_type), 1, 15)) AS BIGINT)) AS VARCHAR)
             AS content_sum
    FROM events
    GROUP BY 1
    """,
)
def integrity_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive per-shard table fingerprint: each row hashes to a
    60-bit integer (md5 prefix — engine-portable, unlike xxhash64 whose
    seed differs across engines), summed per shard. Two replicas of a
    table match iff every (shard, n_rows, content_sum) matches — the
    anti-entropy primitive for cross-cluster replication checks, O(1)
    comparison bytes per shard regardless of table size, fully map-side
    combinable, and incrementally maintainable (the sum is a monoid).
    """
    ev = read_table(spark, sf_dir, "events")
    row_hash = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "\x1f",
                    F.col("event_id").cast("string"),
                    F.col("user_id").cast("string"),
                    F.col("event_type"),
                )
            ),
            1, 15,
        ),
        16, 10,
    ).cast("decimal(20,0)")
    return (
        ev.groupBy((F.col("user_id") % 16).cast("int").alias("shard"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(row_hash).cast("string").alias("content_sum"),
        )
    )


@query(
    "agg_histogram_equidepth",
    """
    WITH b AS (
      SELECT o_totalprice,
             NTILE(8) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
      FROM orders
    )
    SELECT bucket, COUNT(*) AS n,
           ROUND(MIN(o_totalprice), 2) AS lo,
           ROUND(MAX(o_totalprice), 2) AS hi
    FROM b GROUP BY bucket
    """,
)
def agg_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-frequency) histogram of order totals: 8 ntile
    buckets with their boundaries — the histogram shape optimizers and
    drift monitors prefer over fixed-width bins on skewed measures
    (every bucket carries the same statistical weight).

    Scale path (operators/scalerank.py): approx-percentile boundaries
    bucketize the scan, a bounded histogram collect gives per-bucket rank
    offsets, and a PARTITIONED within-bucket row_number reconstructs the
    exact NTILE — same buckets as the oracle's global sort, with no
    single-partition WindowExec in the executed plan."""
    od = read_table(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    # bare 2-column scan: rescanning projected parquet beats caching it
    tiled = with_ntile(
        od, 8, "o_totalprice", ["o_orderkey"], "bucket", persist_input=False
    )
    return (
        tiled.select("o_totalprice", "bucket")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@query(
    "agg_bitmap_exact_distinct",
    """
    SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_bitmap_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via bitmap aggregates (Spark 3.5+): keys
    bucket into 32k-bit bitmaps (`bitmap_bucket_number` /
    `bitmap_bit_position`), per-bucket bitmaps OR-merge associatively in
    `bitmap_construct_agg`, and the final count sums `bitmap_count` per
    group. Unlike COUNT(DISTINCT)'s expand-and-dedup (shuffles every
    distinct value) or HLL (approximate), the shuffle here carries ONE
    4 KB bitmap per (group, bucket) — the exact-at-scale middle ground,
    and the same layout incremental ingestion can keep OR-merging into.
    Oracle: plain COUNT(DISTINCT)."""
    li = read_table(spark, sf_dir, "lineitem")
    per_bucket = li.groupBy(
        "l_returnflag",
        F.expr("bitmap_bucket_number(l_partkey)").alias("bucket"),
    ).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(l_partkey))").alias("bm")
    )
    return (
        per_bucket.groupBy("l_returnflag")
        .agg(F.sum(F.expr("bitmap_count(bm)")).alias("n_parts"))
        .orderBy("l_returnflag")
    )


@query(
    "ts_moving_median",
    """
    SELECT user_id, event_id,
           ROUND(quantile_cont(value::DOUBLE, 0.5) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
           ), 6) AS med5
    FROM events
    WHERE user_id < 30
    """,
)
def ts_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving median (5-row trailing window per user) — the robust
    alternative to the moving average for spiky series; an ordered-set
    aggregate evaluated over a window frame, which plain SQL windows
    without percentile support cannot express. One shuffle+sort on
    user_id shared by the frame evaluation; both engines interpolate in
    IEEE doubles so values hash-match."""
    ev = read_table(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.expr("percentile(value, 0.5)").over(w), 6).alias("med5"),
    )


@query(
    "agg_hll_sketch_union",
    """
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS est_within_5pct, TRUE AS union_within_5pct
    FROM events GROUP BY 1
    UNION ALL
    SELECT '__all_days__' AS day, COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS est_within_5pct, TRUE AS union_within_5pct
    FROM events
    ORDER BY day
    """,
)
def agg_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch distinct counting (Spark ≥3.5 DataSketches HLL):
    build one `hll_sketch_agg(user_id)` sketch PER DAY, then union the
    stored sketches into the period total — the incremental-maintenance
    pattern for distinct counts at warehouse scale. Unlike
    `approx_count_distinct` (one-shot, recompute-from-raw), the daily
    sketch column persists: a new day means ONE new sketch plus a
    re-union of kilobyte blobs, never a rescan of history; the union is
    associative so sketches roll up along any hierarchy (day→month→all).

    Sketch estimates are engine-specific, so the HASHED output carries
    the contract, not the digits: per day, the EXACT distinct count plus
    a flag that the sketch estimate sits within 5% of it; the
    `__all_days__` row flags that the union-of-daily-sketches estimate
    is ALSO within 5% of the exact period count — merging daily
    sketches loses nothing beyond the sketch's own error bound. (The
    round-8 contract asserted exact equality between the unioned and
    the directly-built sketch; that held at sf0.01 only because every
    sketch was still in exact coupon mode. DataSketches' union promotes
    its accumulator to the HLL_8 target type, so once sketches go dense
    the two internal states — and their estimates — legitimately
    diverge by a fraction of a percent; caught live by the sf0.1 oracle
    sweep and replaced with the accuracy contract a user actually
    relies on.) The DuckDB oracle checks the exact counts and literal
    TRUE flags. The two 1-row period aggregates come back as scalar
    cursors and the total row is rebuilt from literals — no cartesian
    join needed."""
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    per_day = daily.select(
        F.col("day").cast("string").alias("day"),
        "exact_users",
        (
            F.abs(F.hll_sketch_estimate("sk") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("est_within_5pct"),
        F.lit(True).alias("union_within_5pct"),
    )
    tot = ev.agg(
        F.countDistinct("user_id").alias("exact"),
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("direct"),
    ).collect()[0]
    union_est = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("u")
    ).collect()[0]["u"]
    total = spark.range(1).select(
        F.lit("__all_days__").alias("day"),
        F.lit(tot["exact"]).cast("long").alias("exact_users"),
        F.lit(bool(abs(tot["direct"] - tot["exact"]) <= 0.05 * tot["exact"])).alias(
            "est_within_5pct"
        ),
        F.lit(bool(abs(union_est - tot["exact"]) <= 0.05 * tot["exact"])).alias(
            "union_within_5pct"
        ),
    )
    return per_day.unionByName(total).orderBy("day")


@query(
    "events_activity_gini",
    """
    WITH per_user AS (
      SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
    ), ranked AS (
      SELECT n, ROW_NUMBER() OVER (ORDER BY n, user_id) AS i,
             COUNT(*) OVER () AS cnt, SUM(n) OVER () AS tot
      FROM per_user
    )
    SELECT CAST(MAX(cnt) AS BIGINT) AS n_users,
           CAST(MAX(tot) AS BIGINT) AS total_events,
           ROUND(SUM((2.0 * i - cnt - 1) * n) / (CAST(MAX(cnt) AS DOUBLE) * MAX(tot)), 6)
             AS gini,
           ROUND(SUM(CASE WHEN i > cnt - CAST(CEIL(cnt * 0.1) AS BIGINT) THEN n ELSE 0 END)::DOUBLE
                 / MAX(tot), 4) AS top10pct_share
    FROM ranked
    """,
)
def events_activity_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity-concentration audit: Gini coefficient of per-user event
    counts (0 = uniform, →1 = a few power users dominate) plus the top-
    decile share — the skew diagnostic that predicts which keys will
    become shuffle hot spots long before a job falls over. Gini via the
    rank formula Σ(2i−n−1)·xᵢ / (n·Σx) over the per-USER aggregate
    (already collapsed; |users| rows), not the event log.

    Scale path (operators/scalerank.py): ranks come from range-binned
    partitioned row_numbers (no global sort even over the per-user
    frame — billions of users at 100×), and the rank formula is
    rearranged to pure aggregates: Σ(2i−n−1)xᵢ = 2Σ(i·xᵢ) − (n+1)Σxᵢ,
    all integer-exact in longs, so the result hash-matches the oracle's
    per-term double summation."""
    import math

    ev = read_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    ranked, n_users = with_global_ranks(
        per_user, [RankSpec(out="i", value="n", tiebreaks=["user_id"])]
    )
    # CEIL(n*0.1) via the same IEEE double product the oracle computes
    top_cut = n_users - math.ceil(n_users * 0.1)
    cnt = F.count(F.lit(1))
    tot = F.sum("n")
    # per-product double cast: each i·xᵢ is integer-exact in a double
    # (< 2^53 at any tested SF) while the SUM cannot overflow long the way
    # an integer Σi·xᵢ would at billions of users (~n²·avg ≫ 2^63)
    rank_mass = F.sum((F.col("i") * F.col("n")).cast("double"))
    return ranked.agg(
        cnt.alias("n_users"),
        tot.alias("total_events"),
        F.round(
            (2.0 * rank_mass - (cnt + 1).cast("double") * tot.cast("double"))
            / (cnt.cast("double") * tot.cast("double")),
            6,
        ).alias("gini"),
        F.round(
            F.sum(F.when(F.col("i") > top_cut, F.col("n")).otherwise(0)).cast("double")
            / tot,
            4,
        ).alias("top10pct_share"),
    )


# -- distribution-drift monitors ----------------------------------------------
# The data-quality gate a production training-data pipeline runs between
# snapshot N and snapshot N+1 (or between two time windows of one feed):
# numeric drift via the Population Stability Index over fixed bins,
# categorical drift via a two-sample chi-square. Both are pure partial-
# aggregatable aggregates — one shuffle of |bins| (resp. |categories|)
# rows regardless of input size, no windows, no collect of data rows.


@query(
    "monitor_psi_value_drift",
    """
    WITH rng AS (
      SELECT MIN(value) AS vmin, MAX(value) AS vmax,
             (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS mid_us
      FROM events
    ), binned AS (
      SELECT CASE WHEN epoch_us(ts) < mid_us THEN 0 ELSE 1 END AS half,
             LEAST(9, GREATEST(0,
               CAST(FLOOR((value - vmin) / (vmax - vmin) * 10) AS INT))) AS bin
      FROM events, rng
    ), counts AS (
      SELECT bin,
             SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS c0,
             SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS c1
      FROM binned GROUP BY bin
    ), tot AS (
      SELECT SUM(c0) AS n0, SUM(c1) AS n1 FROM counts
    )
    SELECT CAST(MAX(n0) AS BIGINT) AS n_ref,
           CAST(MAX(n1) AS BIGINT) AS n_cur,
           COUNT(*) AS n_bins,
           ROUND(SUM(
             ((c0 + 0.5) / (n0 + 5.0) - (c1 + 0.5) / (n1 + 5.0))
             * LN(((c0 + 0.5) / (n0 + 5.0)) / ((c1 + 0.5) / (n1 + 5.0)))
           ), 6) AS psi
    FROM counts, tot
    """,
)
def monitor_psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and second temporal
    half of the event feed's ``value`` distribution — the standard
    numeric-drift gate (rule of thumb: <0.1 stable, 0.1-0.25 moderate,
    >0.25 action). 10 equi-width bins over the observed range; additive
    (+0.5 per bin, Laplace) smoothing keeps empty bins finite and makes
    PSI symmetric-zero on identical halves.

    Plan: one scalar agg for (range, temporal midpoint) — a bounded
    collect — then ONE partial-aggregatable pass building per-bin
    conditional counts; PSI folds |bins| rows. The bin expression uses
    explicit FLOOR arithmetic (not engine width_bucket) so Spark and the
    oracle execute bit-identical IEEE operations."""
    ev = read_table(spark, sf_dir, "events")
    # integer epoch-µs midpoint: timestamp-interval halving is engine-
    # specific (tz/interval semantics); integer math is not
    us = F.unix_micros(F.col("ts"))
    rng = ev.agg(
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
        ((F.min(us) + F.max(us)) / F.lit(2)).cast("long").alias("mid_us"),
    ).collect()[0]
    vmin, vmax = float(rng["vmin"]), float(rng["vmax"])
    half = F.when(us < F.lit(rng["mid_us"]), 0).otherwise(1)
    if vmax == vmin:  # degenerate constant feed: one bin, PSI trivially 0
        bin_ = F.lit(0)
    else:
        bin_ = F.least(
            F.lit(9),
            F.greatest(
                F.lit(0),
                F.floor((F.col("value") - vmin) / (vmax - vmin) * 10).cast("int"),
            ),
        )
    counts = ev.select(half.alias("half"), bin_.alias("bin")).groupBy("bin").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("c1"),
    )
    tot = counts.agg(
        F.sum("c0").alias("n0"), F.sum("c1").alias("n1")
    )
    p = (F.col("c0") + 0.5) / (F.col("n0") + 5.0)
    q = (F.col("c1") + 0.5) / (F.col("n1") + 5.0)
    return counts.crossJoin(F.broadcast(tot)).agg(
        F.max("n0").cast("long").alias("n_ref"),
        F.max("n1").cast("long").alias("n_cur"),
        F.count(F.lit(1)).alias("n_bins"),
        F.round(F.sum((p - q) * F.log(p / q)), 6).alias("psi"),
    )


@query(
    "monitor_chisq_type_drift",
    """
    WITH rng AS (
      SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS mid_us FROM events
    ), counts AS (
      SELECT event_type,
             SUM(CASE WHEN epoch_us(ts) < mid_us THEN 1 ELSE 0 END) AS c0,
             SUM(CASE WHEN epoch_us(ts) >= mid_us THEN 1 ELSE 0 END) AS c1
      FROM events, rng GROUP BY event_type
    ), tot AS (SELECT SUM(c0) AS n0, SUM(c1) AS n1 FROM counts)
    SELECT CAST(COUNT(*) - 1 AS BIGINT) AS dof,
           CAST(MAX(n0) AS BIGINT) AS n_ref,
           CAST(MAX(n1) AS BIGINT) AS n_cur,
           ROUND(SUM(
               POW(c0 - n0 * ((c0 + c1) / (n0 + n1)), 2) / (n0 * ((c0 + c1) / (n0 + n1)))
             + POW(c1 - n1 * ((c0 + c1) / (n0 + n1)), 2) / (n1 * ((c0 + c1) / (n0 + n1)))
           ), 6) AS chi2
    FROM counts, tot
    """,
)
def monitor_chisq_type_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample chi-square homogeneity test on the event-type mix
    between the temporal halves of the feed — the categorical-drift gate
    next to [[monitor_psi_value_drift]]. Expected counts come from the
    pooled distribution; the statistic folds |categories| rows after one
    partial-aggregatable conditional-count pass (the scalar temporal
    midpoint is the only driver round-trip)."""
    ev = read_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    mid = ev.agg(
        ((F.min(us) + F.max(us)) / F.lit(2)).cast("long").alias("m")
    ).collect()[0]["m"]
    counts = ev.groupBy("event_type").agg(
        F.sum(F.when(us < F.lit(mid), 1).otherwise(0)).alias("c0"),
        F.sum(F.when(us >= F.lit(mid), 1).otherwise(0)).alias("c1"),
    )
    tot = counts.agg(F.sum("c0").alias("n0"), F.sum("c1").alias("n1"))
    pooled = (F.col("c0") + F.col("c1")) / (F.col("n0") + F.col("n1"))
    e0 = F.col("n0") * pooled
    e1 = F.col("n1") * pooled
    return counts.crossJoin(F.broadcast(tot)).agg(
        (F.count(F.lit(1)) - 1).cast("long").alias("dof"),
        F.max("n0").cast("long").alias("n_ref"),
        F.max("n1").cast("long").alias("n_cur"),
        F.round(
            F.sum(
                F.pow(F.col("c0") - e0, 2) / e0 + F.pow(F.col("c1") - e1, 2) / e1
            ),
            6,
        ).alias("chi2"),
    )


@query(
    "monitor_ks_value_drift",
    """
    WITH rng AS (
      SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS mid_us FROM events
    ), g AS (
      SELECT value,
             SUM(CASE WHEN epoch_us(ts) < mid_us THEN 1 ELSE 0 END) AS a1,
             SUM(CASE WHEN epoch_us(ts) >= mid_us THEN 1 ELSE 0 END) AS a2
      FROM events, rng GROUP BY value
    ), c AS (
      SELECT SUM(a1) OVER w AS c1, SUM(a2) OVER w AS c2
      FROM g WINDOW w AS (ORDER BY value ROWS UNBOUNDED PRECEDING)
    ), tot AS (SELECT SUM(a1) AS n1, SUM(a2) AS n2 FROM g)
    SELECT CAST(MAX(n1) AS BIGINT) AS n_ref,
           CAST(MAX(n2) AS BIGINT) AS n_cur,
           ROUND(MAX(ABS(c1::DOUBLE / n1 - c2::DOUBLE / n2)), 6) AS ks
    FROM c, tot
    """,
)
def monitor_ks_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift statistic between the temporal
    halves of the value feed: KS = max |F̂_ref(v) − F̂_cur(v)| over the
    pooled support — the non-parametric companion to the binned
    [[monitor_psi_value_drift]] (sensitive to any distributional change,
    not just bin-mass moves). Textbook tie handling: per-DISTINCT-value
    counts first, so the CDFs are evaluated after absorbing all ties.

    Scale path: the running CDF numerators come from
    `scalerank.with_global_cumsums` — exact inclusive cumulative counts
    via range-binned offsets + a PARTITIONED running-sum window, never a
    single-partition sort, over a frame already collapsed to |distinct
    values| rows (itself one partial-aggregatable pass over the feed).

    The oracle's global cumulative window is the same math on DuckDB's
    single-node sort; hash-matching it IS the proof the distributed
    decomposition is exact."""
    from databricks_end_to_end_lakeflow_project_spark.operators.scalerank import (
        with_global_cumsums,
    )

    ev = read_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    mid = ev.agg(
        ((F.min(us) + F.max(us)) / F.lit(2)).cast("long").alias("m")
    ).collect()[0]["m"]
    g = ev.groupBy("value").agg(
        F.sum(F.when(us < F.lit(mid), 1).otherwise(0)).alias("a1"),
        F.sum(F.when(us >= F.lit(mid), 1).otherwise(0)).alias("a2"),
    )
    cum, totals = with_global_cumsums(
        g, "value", [], {"c1": F.col("a1"), "c2": F.col("a2")}
    )
    n1, n2 = totals["c1"], totals["c2"]
    return cum.agg(
        F.lit(n1).cast("long").alias("n_ref"),
        F.lit(n2).cast("long").alias("n_cur"),
        F.round(
            F.max(
                F.abs(
                    F.col("c1").cast("double") / F.lit(n1)
                    - F.col("c2").cast("double") / F.lit(n2)
                )
            ),
            6,
        ).alias("ks"),
    )


@query(
    "monitor_unigram_kl_drift",
    """
    WITH toks AS (
      SELECT doc_id % 2 = 1 AS is_new, UNNEST(string_split(trim(text), ' ')) AS tok
      FROM documents
    ), per_tok AS (
      SELECT tok,
             COUNT(*) FILTER (WHERE NOT is_new) AS c_base,
             COUNT(*) FILTER (WHERE is_new) AS c_new
      FROM toks GROUP BY tok
    ), tot AS (
      SELECT SUM(c_base) AS n_base, SUM(c_new) AS n_new,
             COUNT(*) AS v
      FROM per_tok
    ), contrib AS (
      SELECT p.tok, p.c_base, p.c_new,
             CAST(ROUND(
               ((p.c_new + 1.0) / (t.n_new + t.v))
               * ln(((p.c_new + 1.0) * (t.n_base + t.v))
                    / ((p.c_base + 1.0) * (t.n_new + t.v))) * 1e12)
               AS BIGINT) AS contrib_q
      FROM per_tok p CROSS JOIN tot t
    ), total AS (
      SELECT CAST(SUM(contrib_q) AS BIGINT) AS kl_total_q FROM contrib
    )
    SELECT c.tok, CAST(c.c_base AS BIGINT) AS c_base,
           CAST(c.c_new AS BIGINT) AS c_new, c.contrib_q, s.kl_total_q
    FROM contrib c CROSS JOIN total s
    ORDER BY c.contrib_q DESC, c.tok
    LIMIT 10
    """,
)
def monitor_unigram_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution drift between two corpus snapshots as a
    smoothed unigram KL divergence — the language-mixture drift gate a
    recurring ingestion pipeline runs before a new crawl joins the
    training mix (companion to the PSI/chi-square/KS gates, which watch
    scalar columns; this one watches the TEXT itself). Snapshots are
    the even/odd doc_id halves (deterministic stand-ins for
    base-vs-new-crawl); add-1 smoothing over the union vocabulary keeps
    unseen tokens finite. Reports the 10 largest drift contributors
    (the tokens a reviewer looks at first) with the corpus-level total
    on every row.

    Cross-engine exactness (the DSIR rule): each token's KL
    contribution ``p_new * ln(p_new/p_base)`` is quantized to a
    fixed-point long (1e-12) BEFORE summation, so the corpus total is
    an order-independent integer sum; both engines evaluate the same
    double expression on the same BIGINT counts.

    Distributed shape: explode→per-token counts is one
    partial-aggregatable shuffle on the token key; totals are a 1-row
    broadcast (never an unpartitioned window); top-10 is
    TakeOrderedAndProject, no global sort. At 100 TB the shuffled frame
    is vocabulary-sized, not corpus-sized."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        (F.col("doc_id") % 2 == 1).alias("is_new"),
        F.explode(F.split(F.trim(F.col("text")), " ")).alias("tok"),
    )
    per_tok = toks.groupBy("tok").agg(
        F.count(F.when(~F.col("is_new"), 1)).alias("c_base"),
        F.count(F.when(F.col("is_new"), 1)).alias("c_new"),
    )
    tot = per_tok.agg(
        F.sum("c_base").alias("n_base"),
        F.sum("c_new").alias("n_new"),
        F.count(F.lit(1)).alias("v"),
    )
    p_new = (F.col("c_new") + 1.0) / (F.col("n_new") + F.col("v"))
    ratio = ((F.col("c_new") + 1.0) * (F.col("n_base") + F.col("v"))) / (
        (F.col("c_base") + 1.0) * (F.col("n_new") + F.col("v"))
    )
    contrib = per_tok.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.col("c_base").cast("long").alias("c_base"),
        F.col("c_new").cast("long").alias("c_new"),
        F.round(p_new * F.log(ratio) * 1e12).cast("long").alias("contrib_q"),
    )
    total = contrib.agg(F.sum("contrib_q").cast("long").alias("kl_total_q"))
    return (
        contrib.crossJoin(F.broadcast(total))
        .orderBy(F.col("contrib_q").desc(), "tok")
        .limit(10)
    )


@query(
    "monitor_source_freshness",
    """
    WITH src AS (
      SELECT source, COUNT(*) AS n_docs,
             MAX(doc_id) AS max_doc_id
      FROM documents GROUP BY source
    ), tot AS (
      SELECT MAX(max_doc_id) AS global_max FROM src
    )
    SELECT s.source, CAST(s.n_docs AS BIGINT) AS n_docs,
           CAST(s.max_doc_id AS BIGINT) AS latest_doc_id,
           CAST(t.global_max - s.max_doc_id AS BIGINT) AS staleness_docs,
           t.global_max - s.max_doc_id > 100 AS is_stale
    FROM src s CROSS JOIN tot t
    ORDER BY s.source
    """,
)
def monitor_source_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source ingestion freshness — the lag dashboard a multi-feed
    lakehouse checks before trusting a downstream join (a source whose
    latest arrival trails the corpus head has silently stopped
    ingesting; its dimension rows go stale and its CDC stream is
    suspect). Arrival order is doc_id (the corpus's monotone ingest
    sequence); staleness = global head minus the source's head, flagged
    past a threshold. On a timestamped feed the same plan runs on an
    event-time column; all outputs are exact integers either way.

    Shape: one partial-aggregatable groupBy over #sources keys + a
    1-row global-head broadcast — one scan regardless of corpus size."""
    src = (
        read_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )
    tot = src.agg(F.max("max_doc_id").alias("global_max"))
    return (
        src.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("max_doc_id").cast("long").alias("latest_doc_id"),
            (F.col("global_max") - F.col("max_doc_id"))
            .cast("long")
            .alias("staleness_docs"),
            (F.col("global_max") - F.col("max_doc_id") > 100).alias("is_stale"),
        )
        .orderBy("source")
    )


@query(
    "stats_winsorize_price",
    """
    WITH r AS (
      SELECT l_extendedprice AS v,
             ROW_NUMBER() OVER (
               ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
             COUNT(*) OVER () AS n
      FROM lineitem
    ), bounds AS (
      SELECT MAX(CASE WHEN rn = CAST(CEIL(0.01 * n) AS BIGINT) THEN v END)
               AS lo,
             MAX(CASE WHEN rn = CAST(CEIL(0.99 * n) AS BIGINT) THEN v END)
               AS hi,
             MAX(n) AS n
      FROM r
    )
    SELECT CAST(b.n AS BIGINT) AS n_rows,
           CAST(b.lo AS DOUBLE) AS lo_bound,
           CAST(b.hi AS DOUBLE) AS hi_bound,
           CAST(COUNT(*) FILTER (WHERE r.v < b.lo) AS BIGINT) AS n_clipped_low,
           CAST(COUNT(*) FILTER (WHERE r.v > b.hi) AS BIGINT) AS n_clipped_high,
           ROUND(SUM(LEAST(GREATEST(r.v, b.lo), b.hi)), 2)::DOUBLE
             AS winsorized_sum,
           ROUND(SUM(r.v), 2)::DOUBLE AS raw_sum
    FROM r CROSS JOIN bounds b
    GROUP BY b.n, b.lo, b.hi
    """,
)
def stats_winsorize_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (percentile clipping) of a heavy-tailed numeric
    feature — the standard outlier treatment before a feature feeds
    model training or drift stats: values below the exact p01 / above
    the exact p99 clamp to the boundary. Boundaries are defined by
    RANK, not interpolation (the value at sorted position ceil(q·n)),
    so both engines agree bit-for-bit with no quantile-definition
    ambiguity — Spark gets the rank from the distributed scalerank
    kernel (no global sort), DuckDB from ROW_NUMBER.

    Shape: one rank-kernel pass over the projected column, two 1-row
    boundary lookups by rank (broadcast — never an unpartitioned
    window), then one clipped re-aggregate with exact decimal sums
    rounded at 2dp."""
    from databricks_end_to_end_lakeflow_project_spark.functions.compat import dsum
    from databricks_end_to_end_lakeflow_project_spark.operators.scalerank import (
        RankSpec,
        with_global_ranks,
    )

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    ranked, n = with_global_ranks(
        li,
        [
            RankSpec(
                out="rn",
                value="l_extendedprice",
                tiebreaks=["l_orderkey", "l_linenumber"],
            )
        ],
    )
    import math

    k_lo, k_hi = math.ceil(0.01 * n), math.ceil(0.99 * n)
    bounds = (
        ranked.filter(F.col("rn").isin([k_lo, k_hi]))
        .agg(
            F.max(F.when(F.col("rn") == k_lo, F.col("l_extendedprice"))).alias("lo"),
            F.max(F.when(F.col("rn") == k_hi, F.col("l_extendedprice"))).alias("hi"),
        )
    )
    v = F.col("l_extendedprice")
    clipped = F.least(F.greatest(v, F.col("lo")), F.col("hi"))
    return (
        ranked.crossJoin(F.broadcast(bounds))
        .agg(
            F.lit(n).cast("long").alias("n_rows"),
            F.first("lo").cast("double").alias("lo_bound"),
            F.first("hi").cast("double").alias("hi_bound"),
            F.count(F.when(v < F.col("lo"), 1)).cast("long").alias("n_clipped_low"),
            F.count(F.when(v > F.col("hi"), 1)).cast("long").alias("n_clipped_high"),
            dsum(clipped).alias("winsorized_sum"),
            dsum(v).alias("raw_sum"),
        )
    )


_CM_DEPTH = 4
_CM_WIDTH = 64


def _cm_pos_sql(tok: str, j: int) -> str:
    return f"('0x' || substr(md5({tok} || ':{j}'), 1, 8))::UBIGINT % {_CM_WIDTH}"


@query(
    "agg_count_min_sketch",
    f"""
    WITH toks AS (
      SELECT unnest(string_split(trim(text), ' ')) AS tok FROM documents
    ), exact AS (
      SELECT tok, COUNT(*) AS exact_cnt FROM toks GROUP BY tok
    ), hh AS (
      SELECT tok, exact_cnt FROM exact
      ORDER BY exact_cnt DESC, tok LIMIT 5
    ), cells AS (
      {" UNION ALL ".join(
        f'''SELECT {j} AS j, {_cm_pos_sql('tok', j)} AS pos,
            SUM(exact_cnt) AS cell FROM exact GROUP BY pos'''
        for j in range(_CM_DEPTH)
      )}
    ), est AS (
      SELECT h.tok, h.exact_cnt, MIN(c.cell) AS cm_estimate
      FROM hh h JOIN cells c
        ON c.pos = CASE c.j
             {" ".join(f"WHEN {j} THEN {_cm_pos_sql('h.tok', j)}" for j in range(_CM_DEPTH))}
           END
      GROUP BY h.tok, h.exact_cnt
    )
    SELECT tok, CAST(exact_cnt AS BIGINT) AS exact_cnt,
           CAST(cm_estimate AS BIGINT) AS cm_estimate,
           cm_estimate >= exact_cnt AS is_upper_bound,
           {_CM_DEPTH} AS depth, {_CM_WIDTH} AS width
    FROM est ORDER BY exact_cnt DESC, tok
    """,
)
def agg_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency estimation — the streaming-frequency
    sibling of the repo's HLL (distinct), theta (set algebra), GK
    (quantile) and Misra-Gries (top-k) sketches: a {_CM_DEPTH}x
    {_CM_WIDTH} counter grid where every token occurrence increments one
    cell per row (position = md5(tok:j) mod width) and a token's
    estimate is the MIN over its {_CM_DEPTH} cells — never below the
    true count (one-sided error, the CM guarantee), overshooting only by
    collision mass ~N/width per cell.

    Contract oracle (the sketch-query pattern): the 5 heaviest tokens'
    EXACT counts, their CM estimates from identical integer md5
    arithmetic (both engines build the same grid), and the
    ``is_upper_bound`` guarantee flag per token.

    Shape: one vocab-scale exact-count groupBy (the sketch's input here;
    a production stream increments cells directly), {_CM_DEPTH} cell
    aggregations over it — each a {_CM_WIDTH}-key partial-aggregatable
    groupBy — and a 5-row heavy-hitter broadcast probing the
    {_CM_DEPTH * _CM_WIDTH}-cell grid. The sketch is tiny, mergeable
    across partitions/streams by cell-wise addition."""
    docs = read_table(spark, sf_dir, "documents").select("text")
    toks = docs.select(F.explode(F.split(F.trim(F.col("text")), " ")).alias("tok"))
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_cnt"))

    def pos(tok_col, j):
        return (
            F.conv(
                F.substring(F.md5(F.concat(tok_col, F.lit(f":{j}"))), 1, 8), 16, 10
            ).cast("long")
            % _CM_WIDTH
        )

    cells = None
    for j in range(_CM_DEPTH):
        c = exact.groupBy(pos(F.col("tok"), j).alias("pos")).agg(
            F.sum("exact_cnt").alias("cell")
        ).select(F.lit(j).alias("j"), "pos", "cell")
        cells = c if cells is None else cells.unionByName(c)
    hh = exact.orderBy(F.col("exact_cnt").desc(), "tok").limit(5)
    probe = None
    for j in range(_CM_DEPTH):
        p = hh.select("tok", "exact_cnt", F.lit(j).alias("j"), pos(F.col("tok"), j).alias("pos"))
        probe = p if probe is None else probe.unionByName(p)
    return (
        probe.join(cells, ["j", "pos"])
        .groupBy("tok", "exact_cnt")
        .agg(F.min("cell").alias("cm_estimate"))
        .select(
            "tok",
            F.col("exact_cnt").cast("long").alias("exact_cnt"),
            F.col("cm_estimate").cast("long").alias("cm_estimate"),
            (F.col("cm_estimate") >= F.col("exact_cnt")).alias("is_upper_bound"),
            F.lit(_CM_DEPTH).alias("depth"),
            F.lit(_CM_WIDTH).alias("width"),
        )
        .orderBy(F.col("exact_cnt").desc(), "tok")
    )


_BOOT_B = 32
# Poisson(1) CDF cutoffs scaled to the 2^32 hash range (k = 0,1,2,3; ≥4
# beyond the last): floor(CDF(k) * 2^32) — weight assignment is pure
# integer comparison, no doubles anywhere in the draw
_BOOT_CUTS = (1580030168, 3160060337, 3950075421, 4213413783)


def _boot_w_sql(key: str, b: str) -> str:
    h = f"('0x' || substr(md5({key} || ':' || {b}), 1, 8))::UBIGINT"
    return (
        f"(CASE WHEN {h} < {_BOOT_CUTS[0]} THEN 0"
        f" WHEN {h} < {_BOOT_CUTS[1]} THEN 1"
        f" WHEN {h} < {_BOOT_CUTS[2]} THEN 2"
        f" WHEN {h} < {_BOOT_CUTS[3]} THEN 3 ELSE 4 END)"
    )


@query(
    "stats_bootstrap_poisson",
    f"""
    WITH reps AS (SELECT unnest(range(0, {_BOOT_B})) AS b),
    weighted AS (
      SELECT r.b, {_boot_w_sql('o.o_orderkey', 'r.b')} AS w, o.o_totalprice AS x
      FROM orders o CROSS JOIN reps r
    )
    SELECT b, CAST(SUM(w) AS BIGINT) AS n_eff,
           ROUND(CAST(SUM(w * x) AS DOUBLE) / CAST(SUM(w) AS DOUBLE), 4)
             AS rep_mean
    FROM weighted GROUP BY b ORDER BY b
    """,
)
def stats_bootstrap_poisson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap (the large-scale resampling of Chamandy et al.:
    multinomial resample counts approximated by independent Poisson(1)
    weights, so each replicate is ONE weighted pass — no data movement,
    no sampling-with-replacement shuffle): {_BOOT_B} replicate means of
    the order value, from which a consumer reads off standard error and
    rank-based confidence intervals. The uncertainty-quantification
    primitive behind every "is this week's metric move real?" check.

    The weight draw is deterministic and engine-exact: a 2^32-range md5
    integer compared against precomputed Poisson CDF cutoffs — pure
    integer comparisons, not a single double until the final mean
    (exact decimal weighted sum, one double division, 4dp round).

    Shape: the {_BOOT_B}-row replicate frame broadcasts through a cross
    join (bounded {_BOOT_B}x row multiplier, map-side), and the rollup
    is a {_BOOT_B}-key partial-aggregatable groupBy — one scan total;
    at 100 TB this is THE way to bootstrap (per-row i.i.d. weights need
    no coordination across partitions)."""
    od = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    reps = od.sparkSession.createDataFrame([(b,) for b in range(_BOOT_B)], "b int")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col("o_orderkey").cast("string"), F.lit(":"), F.col("b").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    w = (
        F.when(h < _BOOT_CUTS[0], 0)
        .when(h < _BOOT_CUTS[1], 1)
        .when(h < _BOOT_CUTS[2], 2)
        .when(h < _BOOT_CUTS[3], 3)
        .otherwise(4)
    )
    return (
        od.crossJoin(F.broadcast(reps))
        .select("b", w.alias("w"), F.col("o_totalprice").alias("x"))
        .groupBy("b")
        .agg(
            F.sum("w").cast("long").alias("n_eff"),
            F.round(
                F.sum(F.col("w") * F.col("x")).cast("double")
                / F.sum("w").cast("double"),
                4,
            ).alias("rep_mean"),
        )
        .orderBy("b")
    )


@query(
    "monitor_fk_integrity_audit",
    """
    SELECT 'lineitem->orders' AS fk, CAST(COUNT(*) AS BIGINT) AS n_orphans,
           COUNT(*) = 0 AS intact
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IS NULL
    UNION ALL
    SELECT 'lineitem->part', CAST(COUNT(*) AS BIGINT), COUNT(*) = 0
    FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_partkey IS NULL
    UNION ALL
    SELECT 'lineitem->supplier', CAST(COUNT(*) AS BIGINT), COUNT(*) = 0
    FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
    WHERE s.s_suppkey IS NULL
    UNION ALL
    SELECT 'orders->customer', CAST(COUNT(*) AS BIGINT), COUNT(*) = 0
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_custkey IS NULL
    ORDER BY fk
    """,
)
def monitor_fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit over the star schema — the data-quality
    gate run BEFORE trusting inner joins (an orphaned foreign key turns
    an inner join into silent row loss; this query converts that silent
    loss into a number): orphan counts for every fact→dimension edge
    via left-anti joins.

    Shape: each check is one left-anti join — dimensions broadcast when
    bounded, AQE picks the strategy otherwise; counts are
    partial-aggregatable. At 100 TB this is the cheap daily audit whose
    nonzero row is the page that fires before the revenue dashboard
    goes wrong."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    od = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")

    def orphan(name, left, right, lk, rk):
        n = left.join(right, left[lk] == right[rk], "left_anti").count()
        return (name, n, n == 0)

    rows = [
        orphan(
            "lineitem->orders", li, od.select("o_orderkey"), "l_orderkey", "o_orderkey"
        ),
        orphan(
            "lineitem->part",
            li,
            read_table(spark, sf_dir, "part").select("p_partkey"),
            "l_partkey",
            "p_partkey",
        ),
        orphan(
            "lineitem->supplier",
            li,
            read_table(spark, sf_dir, "supplier").select("s_suppkey"),
            "l_suppkey",
            "s_suppkey",
        ),
        orphan(
            "orders->customer",
            od,
            read_table(spark, sf_dir, "customer").select("c_custkey"),
            "o_custkey",
            "c_custkey",
        ),
    ]
    return spark.createDataFrame(
        sorted(rows), "fk string, n_orphans long, intact boolean"
    )


@query(
    "stats_ab_cuped",
    """
    WITH per_user AS (
      SELECT user_id,
             user_id % 2 AS variant,
             CAST(COALESCE(SUM(CAST(value AS DECIMAL(18, 6)))
               FILTER (WHERE ts <  TIMESTAMP '2024-01-16'), 0) AS DOUBLE) AS x,
             CAST(COALESCE(SUM(CAST(value AS DECIMAL(18, 6)))
               FILTER (WHERE ts >= TIMESTAMP '2024-01-16'), 0) AS DOUBLE) AS y
      FROM events GROUP BY user_id
    ),
    theta AS (
      SELECT COVAR_POP(x, y) / VAR_POP(x) AS th, AVG(x) AS mx
      FROM per_user
    )
    SELECT variant,
           COUNT(*) AS n_users,
           ROUND(AVG(y), 4) AS mean_y,
           ROUND(AVG(y - th * (x - mx)), 4) AS mean_y_cuped,
           ROUND(VAR_SAMP(y - th * (x - mx)) / VAR_SAMP(y), 4)
             AS var_ratio
    FROM per_user CROSS JOIN theta
    GROUP BY variant ORDER BY variant
    """,
)
def stats_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for an A/B readout: per-user pre-period
    (days 1–15) value total X and post-period (days 16–30) total Y,
    deterministic variant assignment (user_id parity), adjustment
    ``Y - θ(X - E[X])`` with ``θ = cov(X,Y)/var(X)`` estimated POOLED over
    all users. Reports per-variant raw vs CUPED means and the achieved
    variance ratio — the standard experiment-sensitivity win.

    Plan: one shuffle to user grain (conditional DECIMAL sums so the
    pre/post split is order-exact), one scalar aggregate for θ broadcast
    back as a 1-row cross join, one final 2-group aggregate — all
    partial-aggregatable, no per-row Python.

    Scale: user-grain rows (billions) never leave the executors; θ is a
    2-value scalar. At 100 TB the only heavy edge is the event→user
    shuffle every per-user metric already pays.
    """
    ev = read_table(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,6)")
    cut = F.lit("2024-01-16").cast("timestamp")
    per_user = ev.groupBy("user_id").agg(
        F.coalesce(F.sum(F.when(F.col("ts") < cut, dec)), F.lit(0))
        .cast("double")
        .alias("x"),
        F.coalesce(F.sum(F.when(F.col("ts") >= cut, dec)), F.lit(0))
        .cast("double")
        .alias("y"),
    ).withColumn("variant", F.col("user_id") % 2)
    theta = per_user.agg(
        (F.covar_pop("x", "y") / F.var_pop("x")).alias("th"),
        F.avg("x").alias("mx"),
    )
    adj = F.col("y") - F.col("th") * (F.col("x") - F.col("mx"))
    return (
        per_user.crossJoin(F.broadcast(theta))
        .groupBy("variant")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.avg("y"), 4).alias("mean_y"),
            F.round(F.avg(adj), 4).alias("mean_y_cuped"),
            F.round(F.var_samp(adj) / F.var_samp("y"), 4).alias("var_ratio"),
        )
        .orderBy("variant")
    )


@query(
    "stats_mann_whitney_u",
    """
    WITH s AS (
      SELECT event_id, user_id % 2 AS g, value
      FROM events WHERE event_type = 'purchase'
    ),
    rn AS (
      SELECT g, value,
             ROW_NUMBER() OVER (ORDER BY value, event_id) AS r
      FROM s
    ),
    mids AS (SELECT value, AVG(r) AS mid, COUNT(*) AS t FROM rn GROUP BY value),
    joined AS (SELECT rn.g, m.mid, m.t FROM rn JOIN mids m ON rn.value = m.value),
    agg AS (
      SELECT COUNT(*) FILTER (WHERE g = 0) AS n1,
             COUNT(*) FILTER (WHERE g = 1) AS n2,
             SUM(mid) FILTER (WHERE g = 0) AS r1
      FROM joined
    ),
    ties AS (
      SELECT SUM(t * t * t - t) AS tcorr FROM mids
    )
    SELECT n1, n2,
           r1 AS rank_sum_1,
           r1 - n1 * (n1 + 1) / 2.0 AS u1,
           ROUND(
             (r1 - n1 * (n1 + 1) / 2.0 - n1 * n2 / 2.0)
             / SQRT(n1 * n2 / 12.0
                    * ((n1 + n2 + 1)
                       - tcorr / (1.0 * (n1 + n2) * (n1 + n2 - 1)))),
             4) AS z_score
    FROM agg CROSS JOIN ties
    """,
)
def stats_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) two-sample test of purchase
    values between the two deterministic user cohorts — the
    nonparametric counterpart of the CUPED/t-test readout, robust to the
    heavy-tailed value distributions real revenue metrics have. Midranks
    for ties, tie-corrected normal approximation.

    Exactness: global ranks come from the scalerank kernel (no
    single-partition window), midranks are averages of consecutive
    integers (exact multiples of 0.5, so their sums are
    reduction-order-exact in IEEE doubles); the z statistic is scalar
    arithmetic on those exact sums, rounded 4dp.

    Scale: one rank materialization + two bounded aggregates; the only
    full-data shuffles are the ones every exact global rank pays
    (scalerank: boundary histogram + partitioned within-bin windows).
    """
    from databricks_end_to_end_lakeflow_project_spark.operators.scalerank import (
        RankSpec,
        with_global_ranks,
    )

    ev = read_table(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", (F.col("user_id") % 2).alias("g"), "value"
    )
    ranked, _n = with_global_ranks(
        s, [RankSpec(out="r", value="value", tiebreaks=["event_id"])]
    )
    mids = ranked.groupBy("value").agg(
        F.avg("r").alias("mid"), F.count(F.lit(1)).alias("t")
    )
    joined = ranked.join(mids, "value")
    agg = joined.agg(
        F.sum(F.when(F.col("g") == 0, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).alias("n2"),
        F.sum(F.when(F.col("g") == 0, F.col("mid"))).alias("r1"),
    )
    ties = mids.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias("tcorr")
    )
    j = agg.crossJoin(F.broadcast(ties))
    u1 = F.col("r1") - F.col("n1") * (F.col("n1") + 1) / 2.0
    n, n1, n2 = F.col("n1") + F.col("n2"), F.col("n1"), F.col("n2")
    var = (
        n1 * n2 / 12.0 * ((n + 1) - F.col("tcorr") / (1.0 * n * (n - 1)))
    )
    return j.select(
        "n1",
        "n2",
        F.col("r1").alias("rank_sum_1"),
        u1.alias("u1"),
        F.round((u1 - n1 * n2 / 2.0) / F.sqrt(var), 4).alias("z_score"),
    )


@query(
    "stats_did_estimator",
    """
    WITH per_user AS (
      SELECT user_id,
             user_id % 2 AS treated,
             CAST(COALESCE(SUM(CAST(value AS DECIMAL(18, 6)))
               FILTER (WHERE ts <  TIMESTAMP '2024-01-16'), 0) AS DOUBLE)
               AS y_pre,
             CAST(COALESCE(SUM(CAST(value AS DECIMAL(18, 6)))
               FILTER (WHERE ts >= TIMESTAMP '2024-01-16'), 0) AS DOUBLE)
               AS y_post
      FROM events GROUP BY user_id
    ),
    cells AS (
      SELECT treated,
             COUNT(*) AS n_users,
             ROUND(AVG(y_pre), 4) AS mean_pre,
             ROUND(AVG(y_post), 4) AS mean_post,
             AVG(y_post - y_pre) AS delta,
             VAR_SAMP(y_post - y_pre) / COUNT(*) AS var_delta
      FROM per_user GROUP BY treated
    )
    SELECT t.n_users AS n_treated, c.n_users AS n_control,
           t.mean_pre AS treated_pre, t.mean_post AS treated_post,
           c.mean_pre AS control_pre, c.mean_post AS control_post,
           ROUND(t.delta - c.delta, 4) AS did_estimate,
           ROUND((t.delta - c.delta)
                 / SQRT(t.var_delta + c.var_delta), 4) AS did_z
    FROM (SELECT * FROM cells WHERE treated = 1) t
    CROSS JOIN (SELECT * FROM cells WHERE treated = 0) c
    """,
)
def stats_did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimator over the same pre/post user
    panel as `stats_ab_cuped`: the treated-vs-control difference of
    per-user (post − pre) changes, with the large-sample z from the
    independent two-sample variance of the deltas — the causal-readout
    shape for staggered feature launches where simple post means are
    confounded by level differences.

    Plan: one shuffle to user grain (exact-DECIMAL conditional sums),
    one 2-group aggregate, and a 1-row × 1-row combine. Nothing after
    the user-grain shuffle scales with events.
    """
    ev = read_table(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,6)")
    cut = F.lit("2024-01-16").cast("timestamp")
    per_user = ev.groupBy("user_id").agg(
        F.coalesce(F.sum(F.when(F.col("ts") < cut, dec)), F.lit(0))
        .cast("double")
        .alias("y_pre"),
        F.coalesce(F.sum(F.when(F.col("ts") >= cut, dec)), F.lit(0))
        .cast("double")
        .alias("y_post"),
    ).withColumn("treated", F.col("user_id") % 2)
    d = F.col("y_post") - F.col("y_pre")
    cells = per_user.groupBy("treated").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.round(F.avg("y_pre"), 4).alias("mean_pre"),
        F.round(F.avg("y_post"), 4).alias("mean_post"),
        F.avg(d).alias("delta"),
        (F.var_samp(d) / F.count(F.lit(1))).alias("var_delta"),
    )
    t = cells.filter(F.col("treated") == 1).select(
        F.col("n_users").alias("n_treated"),
        F.col("mean_pre").alias("treated_pre"),
        F.col("mean_post").alias("treated_post"),
        F.col("delta").alias("t_delta"),
        F.col("var_delta").alias("t_var"),
    )
    c = cells.filter(F.col("treated") == 0).select(
        F.col("n_users").alias("n_control"),
        F.col("mean_pre").alias("control_pre"),
        F.col("mean_post").alias("control_post"),
        F.col("delta").alias("c_delta"),
        F.col("var_delta").alias("c_var"),
    )
    return t.crossJoin(F.broadcast(c)).select(
        "n_treated",
        "n_control",
        "treated_pre",
        "treated_post",
        "control_pre",
        "control_post",
        F.round(F.col("t_delta") - F.col("c_delta"), 4).alias("did_estimate"),
        F.round(
            (F.col("t_delta") - F.col("c_delta"))
            / F.sqrt(F.col("t_var") + F.col("c_var")),
            4,
        ).alias("did_z"),
    )


# two-sided alpha=0.05 and power=0.80 normal quantiles, fixed literals so
# both engines compute the identical constant
_Z_ALPHA, _Z_BETA = 1.959964, 0.841621


@query(
    "stats_power_analysis",
    f"""
    WITH per_user AS (
      SELECT user_id,
             CAST(ROUND(CAST(COALESCE(SUM(CAST(value AS DECIMAL(18, 6)))
               FILTER (WHERE event_type = 'purchase'), 0) AS DOUBLE)
               * 1000000) AS BIGINT) AS v_q
      FROM events GROUP BY user_id
    ),
    mom AS (
      SELECT COUNT(*) AS n,
             SUM(v_q) AS s1,
             SUM(CAST(v_q AS HUGEINT) * v_q) AS s2
      FROM per_user
    ),
    base AS (
      SELECT n,
             (CAST(s1 AS DOUBLE) / n) / 1000000.0 AS mu,
             ((CAST(s2 AS DOUBLE) / n)
              - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
               / 1000000000000.0 AS var_pop
      FROM mom
    ),
    lifts AS (SELECT UNNEST([1, 2, 5, 10]) AS lift_pct)
    SELECT lift_pct,
           ROUND(mu * lift_pct / 100.0, 4) AS mde_abs,
           CAST(CEIL(2 * var_pop * {(_Z_ALPHA + _Z_BETA) ** 2!r}
                     / ((mu * lift_pct / 100.0)
                        * (mu * lift_pct / 100.0))) AS BIGINT)
             AS n_per_arm
    FROM base CROSS JOIN lifts ORDER BY lift_pct
    """,
)
def stats_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment sizing from pilot data: required users PER ARM to
    detect a 1/2/5/10% relative lift of mean per-user purchase value at
    α=0.05 (two-sided) and 80% power — ``n = 2σ²(z_{{α/2}}+z_β)²/Δ²``,
    the planning readout that belongs next to the CUPED/DiD estimators.

    Exactness: pilot moments use the fixed-point protocol (per-user
    DECIMAL totals quantized to 1e-6 longs, exact integer power sums via
    DECIMAL/HUGEINT), so μ and σ² are identical doubles in both engines
    and the CEIL cannot flip on reduction-order noise.

    Scale: one shuffle to user grain, one scalar moment row, a 4-row
    literal cross join.
    """
    ev = read_table(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,6)")
    per_user = ev.groupBy("user_id").agg(
        F.round(
            F.coalesce(
                F.sum(F.when(F.col("event_type") == "purchase", dec)), F.lit(0)
            ).cast("double")
            * 1000000
        )
        .cast("long")
        .alias("v_q")
    )
    mom = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v_q").alias("s1"),
        F.sum(F.col("v_q").cast("decimal(38,0)") * F.col("v_q")).alias("s2"),
    )
    mu = (F.col("s1").cast("double") / F.col("n")) / 1000000.0
    var_pop = (
        F.col("s2").cast("double") / F.col("n")
        - (F.col("s1").cast("double") / F.col("n"))
        * (F.col("s1").cast("double") / F.col("n"))
    ) / 1.0e12
    lifts = spark.range(1).select(
        F.explode(F.array(*[F.lit(x) for x in (1, 2, 5, 10)])).alias("lift_pct")
    )
    mde = mu * F.col("lift_pct") / 100.0
    return (
        mom.crossJoin(F.broadcast(lifts))
        .select(
            "lift_pct",
            F.round(mde, 4).alias("mde_abs"),
            F.ceil(
                2 * var_pop * float((_Z_ALPHA + _Z_BETA) ** 2) / (mde * mde)
            )
            .cast("long")
            .alias("n_per_arm"),
        )
        .orderBy("lift_pct")
    )


# ---------------------------------------------------------------------------
# round-6 additions: experimentation-platform + eval-quality statistics
# ---------------------------------------------------------------------------


@query(
    "stats_calibration_ece",
    """
    WITH span AS (
      SELECT MIN(o_orderdate) AS lo, MAX(o_orderdate) AS hi FROM orders
    ),
    scored AS (
      SELECT date_diff('day', span.lo, o_orderdate) * 1.0
               / date_diff('day', span.lo, span.hi) AS score,
             CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END AS y
      FROM orders CROSS JOIN span
    ),
    binned AS (
      SELECT LEAST(CAST(FLOOR(score * 10) AS BIGINT), 9) AS bin,
             COUNT(*) AS n,
             SUM(score) AS s_conf, SUM(y) AS s_pos
      FROM scored GROUP BY 1
    ),
    tot AS (SELECT SUM(n) AS total FROM binned)
    SELECT bin, n,
           ROUND(s_conf / n, 6) AS mean_confidence,
           ROUND(s_pos * 1.0 / n, 6) AS frac_positive,
           ROUND(ABS(s_conf / n - s_pos * 1.0 / n), 6) AS abs_gap,
           ROUND(SUM(n * ABS(s_conf / n - s_pos * 1.0 / n)) OVER ()
                   / tot.total, 6) AS ece
    FROM binned CROSS JOIN tot
    ORDER BY bin
    """,
)
def stats_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected Calibration Error of a deterministic 'model': score =
    order-date recency scaled to [0,1], outcome = order still open
    (recent orders ARE more often open, so the score is genuinely
    informative and imperfectly calibrated — a realistic reliability
    diagram, not noise). 10 equal-width bins; per-bin mean confidence
    vs empirical positive rate; ECE = Σ (n_b/N)·|acc_b − conf_b| rides
    every row as a window total.

    Plan: one scan → one hash aggregate on the bin id (10 groups) — the
    canonical 100 TB model-monitoring shape (the [lo,hi] span is a 1-row
    broadcast). Every statistic is a ratio of partial-aggregatable sums.
    """
    od = read_table(spark, sf_dir, "orders")
    span = od.agg(
        F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi")
    )
    scored = od.crossJoin(F.broadcast(span)).select(
        (
            F.datediff("o_orderdate", "lo") * 1.0 / F.datediff("hi", "lo")
        ).alias("score"),
        F.when(F.col("o_orderstatus") == "F", 0).otherwise(1).alias("y"),
    )
    binned = (
        scored.groupBy(
            F.least(F.floor(F.col("score") * 10).cast("long"), F.lit(9)).alias(
                "bin"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("score").alias("s_conf"),
            F.sum("y").alias("s_pos"),
        )
    )
    conf = F.col("s_conf") / F.col("n")
    acc = F.col("s_pos") * 1.0 / F.col("n")
    # the ECE total is a 1-row aggregate of the 10-row bin frame,
    # broadcast back — the repo's zero-unpartitioned-window convention
    # (an OVER () window here would plan a single-partition WindowExec)
    binned = binned.persist()
    tot = binned.agg(F.sum("n").alias("__total"))
    gaps = binned.select(
        "bin",
        "n",
        F.round(conf, 6).alias("mean_confidence"),
        F.round(acc, 6).alias("frac_positive"),
        F.round(F.abs(conf - acc), 6).alias("abs_gap"),
        (F.col("n") * F.abs(conf - acc)).alias("__w_gap"),
    )
    ece = gaps.agg(F.sum("__w_gap").alias("__sum_gap"))
    return (
        gaps.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ece))
        .select(
            "bin",
            "n",
            "mean_confidence",
            "frac_positive",
            "abs_gap",
            F.round(F.col("__sum_gap") / F.col("__total"), 6).alias("ece"),
        )
        .orderBy("bin")
    )


# pinned-order fold for the mutual-information sum: the joint table is
# ~35 cells, so a free-order double sum is ulp-safe in practice, but the
# repo's exactness protocol pins EVERY float reduction order anyway.
@query(
    "stats_mutual_information",
    """
    WITH joint AS (
      SELECT c_nationkey AS x, c_mktsegment AS y, COUNT(*) AS nxy
      FROM customer GROUP BY 1, 2
    ),
    tot AS (SELECT SUM(nxy) AS n FROM joint),
    marg AS (
      SELECT x, y, nxy,
             SUM(nxy) OVER (PARTITION BY x) AS nx,
             SUM(nxy) OVER (PARTITION BY y) AS ny,
             tot.n AS n
      FROM joint CROSS JOIN tot
    ),
    terms AS (
      SELECT (nxy * 1.0 / n) * LN((nxy * 1.0 * n) / (nx * 1.0 * ny)) AS mi_t,
             CASE WHEN ROW_NUMBER() OVER (PARTITION BY x ORDER BY y) = 1
                  THEN -(nx * 1.0 / n) * LN(nx * 1.0 / n) ELSE 0 END AS hx_t,
             CASE WHEN ROW_NUMBER() OVER (PARTITION BY y ORDER BY x) = 1
                  THEN -(ny * 1.0 / n) * LN(ny * 1.0 / n) ELSE 0 END AS hy_t,
             x, y, n
      FROM marg
    ),
    folded AS (
      SELECT ANY_VALUE(n) AS n,
             list_reduce(
               list_prepend(0.0::DOUBLE, LIST(mi_t ORDER BY x, y)),
               (a, b) -> a + b) AS mi,
             list_reduce(
               list_prepend(0.0::DOUBLE, LIST(hx_t ORDER BY x, y)),
               (a, b) -> a + b) AS hx,
             list_reduce(
               list_prepend(0.0::DOUBLE, LIST(hy_t ORDER BY x, y)),
               (a, b) -> a + b) AS hy
      FROM terms
    )
    SELECT n, ROUND(mi, 6) AS mi_nats,
           ROUND(mi / SQRT(hx * hy), 6) AS nmi,
           ROUND(hx, 6) AS h_x, ROUND(hy, 6) AS h_y
    FROM folded
    """,
)
def stats_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (nats) and normalized MI between two
    categorical columns (nation × market segment) — the feature-
    redundancy / leakage screen a feature store runs before training.
    NMI = MI / √(H(x)·H(y)).

    Plan: ONE hash aggregate builds the joint table (|x|·|y| ≈ 125
    cells); marginals are window sums over it — "model moves, not
    data": nothing after the first aggregate scales with the table. The
    final float reduction folds in pinned (x, y) order on both engines
    (repo exactness protocol), so the 6dp hash can never straddle a
    summation-order ulp.
    """
    cust = read_table(spark, sf_dir, "customer")
    joint = cust.groupBy(
        F.col("c_nationkey").alias("x"), F.col("c_mktsegment").alias("y")
    ).agg(F.count(F.lit(1)).alias("nxy")).persist()
    wx, wy = Window.partitionBy("x"), Window.partitionBy("y")
    # total n is a 1-row broadcast, not an OVER () window (the repo's
    # zero-unpartitioned-window convention)
    tot = joint.agg(F.sum("nxy").alias("n"))
    marg = joint.select(
        "x",
        "y",
        "nxy",
        F.sum("nxy").over(wx).alias("nx"),
        F.sum("nxy").over(wy).alias("ny"),
    ).crossJoin(F.broadcast(tot))
    mi_t = (F.col("nxy") * 1.0 / F.col("n")) * F.log(
        (F.col("nxy") * 1.0 * F.col("n")) / (F.col("nx") * 1.0 * F.col("ny"))
    )
    first_x = F.row_number().over(wx.orderBy("y")) == 1
    first_y = F.row_number().over(wy.orderBy("x")) == 1
    px, py = F.col("nx") * 1.0 / F.col("n"), F.col("ny") * 1.0 / F.col("n")
    terms = marg.select(
        "x",
        "y",
        "n",
        mi_t.alias("mi_t"),
        F.when(first_x, -px * F.log(px)).otherwise(F.lit(0.0)).alias("hx_t"),
        F.when(first_y, -py * F.log(py)).otherwise(F.lit(0.0)).alias("hy_t"),
    )

    def fold(col):
        arr = F.array_sort(
            F.collect_list(F.struct(F.col("x"), F.col("y"), F.col(col).alias("t")))
        )
        return F.aggregate(
            arr, F.lit(0.0), lambda acc, s: acc + s["t"]
        )

    folded = terms.groupBy().agg(
        F.first("n").alias("n"),
        fold("mi_t").alias("mi"),
        fold("hx_t").alias("hx"),
        fold("hy_t").alias("hy"),
    )
    return folded.select(
        "n",
        F.round("mi", 6).alias("mi_nats"),
        F.round(F.col("mi") / F.sqrt(F.col("hx") * F.col("hy")), 6).alias("nmi"),
        F.round("hx", 6).alias("h_x"),
        F.round("hy", 6).alias("h_y"),
    )


@query(
    "stats_mad_outliers",
    """
    -- quantiles over exact integer CENTS (quantize-before-aggregate):
    -- interpolated medians of 2-dp money land on half-cent boundaries,
    -- and the double dollar path left Spark/DuckDB one ulp apart across
    -- a ROUND boundary (52724.245, caught by the round-9 sf0.001 full
    -- sweep). In cent space every intermediate (median = half-integer,
    -- MAD = quarter-integer) is exact in both engines, and the final
    -- ROUND happens on exact cent values.
    WITH c AS (
      SELECT l_returnflag,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS pc
      FROM lineitem
    ),
    med AS (
      SELECT l_returnflag AS grp, QUANTILE_CONT(pc, 0.5) AS med_c
      FROM c GROUP BY 1
    ),
    mad AS (
      SELECT c.l_returnflag AS grp, ANY_VALUE(m.med_c) AS med_c,
             QUANTILE_CONT(ABS(c.pc - m.med_c), 0.5) AS mad_c
      FROM c JOIN med m ON c.l_returnflag = m.grp
      GROUP BY 1
    )
    SELECT c.l_returnflag AS grp,
           ROUND(ANY_VALUE(m.med_c)) / 100 AS med,
           ROUND(ANY_VALUE(m.mad_c)) / 100 AS mad,
           COUNT(*) AS n,
           SUM(CASE WHEN ABS(c.pc - m.med_c)
                         > 3 * 1.4826 * m.mad_c THEN 1 ELSE 0 END) AS n_outliers
    FROM c JOIN mad m ON c.l_returnflag = m.grp
    GROUP BY 1 ORDER BY 1
    """,
)
def stats_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen per group: median / MAD (scaled by the
    1.4826 normal-consistency constant) and the count of points beyond
    3 robust sigmas — the quality-monitoring alternative to mean/stddev
    z-scores, immune to the outliers it is hunting.

    Plan: two exact-percentile aggregates (bounded group cardinality —
    the documented `percentile` contract) + one broadcast join back for
    the flag count. At raw-column 100 TB scale, swap both percentiles
    for `approx_percentile` — identical shape, sketch-mergeable.

    Cross-engine exactness: the percentiles run over exact integer
    CENTS (see the oracle comment — the double-dollar path rounded a
    half-cent median differently per engine at sf0.001), so the median
    is an exact half-integer, the MAD an exact quarter-integer, and the
    outlier threshold compares bit-identical doubles on both engines.
    """
    from databricks_end_to_end_lakeflow_project_spark.functions.compat import cents

    li = read_table(spark, sf_dir, "lineitem")
    pc = cents(F.col("l_extendedprice"))
    med = li.groupBy(F.col("l_returnflag").alias("grp")).agg(
        F.percentile(pc, 0.5).alias("med_c")
    )
    j1 = li.join(
        F.broadcast(med), li["l_returnflag"] == med["grp"]
    )
    mad = j1.groupBy("grp").agg(
        F.first("med_c").alias("med_c"),
        F.percentile(F.abs(pc - F.col("med_c")), 0.5).alias("mad_c"),
    )
    j2 = li.join(F.broadcast(mad), li["l_returnflag"] == mad["grp"])
    out = F.when(
        F.abs(pc - F.col("med_c")) > 3 * 1.4826 * F.col("mad_c"), 1
    ).otherwise(0)
    return (
        j2.groupBy("grp")
        .agg(
            (F.round(F.first("med_c")) / 100).alias("med"),
            (F.round(F.first("mad_c")) / 100).alias("mad"),
            F.count(F.lit(1)).alias("n"),
            F.sum(out).alias("n_outliers"),
        )
        .orderBy("grp")
    )


@query(
    "stats_fdr_bh",
    """
    WITH gpop AS (
      SELECT AVG(CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0 END) AS p0
      FROM lineitem
    ),
    per AS (
      SELECT s_nationkey AS nation, COUNT(*) AS n,
             AVG(CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0 END) AS phat
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY 1
    ),
    tests AS (
      SELECT nation, n,
             (phat - gpop.p0) / SQRT(gpop.p0 * (1 - gpop.p0) / n) AS z,
             -- two-sided subgaussian tail bound: p ≤ 2·exp(−z²/2); the
             -- operator under test is the BH step-up, which accepts any
             -- valid p-values (exact Φ needs erf, absent in both engines)
             LEAST(2 * EXP(-((phat - gpop.p0) / SQRT(gpop.p0 * (1 - gpop.p0) / n))
                           * ((phat - gpop.p0) / SQRT(gpop.p0 * (1 - gpop.p0) / n)) / 2),
                   1.0) AS p
      FROM per CROSS JOIN gpop
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY p, nation) AS rk,
             COUNT(*) OVER () AS m
      FROM tests
    ),
    adj AS (
      SELECT *, MIN(p * m / rk) OVER (
               ORDER BY rk DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS p_adj_raw
      FROM ranked
    )
    SELECT nation, n, ROUND(z, 4) AS z, ROUND(p, 6) AS p,
           rk, ROUND(LEAST(p_adj_raw, 1.0), 6) AS p_adj,
           CASE WHEN LEAST(p_adj_raw, 1.0) <= 0.05 THEN 1 ELSE 0 END
             AS rejected_fdr05
    FROM adj ORDER BY rk
    """,
)
def stats_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR correction over a family of per-nation
    two-proportion tests (supplier-nation return rates vs global) — the
    multiple-comparisons gate an experimentation platform applies before
    shipping 'significant' segment effects. Emits rank, BH-adjusted
    p-value (reverse cumulative min of p·m/rank) and the 5%-FDR
    decision. The per-test p-value is the two-sided subgaussian bound
    2·exp(−z²/2) — a valid (conservative) p-value that both engines can
    compute in closed form; the operator under test is the step-up
    procedure, which is tail-function-agnostic.

    Plan: one join + hash aggregate to nation grain (25 rows), then the
    BH machinery is two windows over test-family-cardinality data —
    model moves, not data.
    """
    li = read_table(spark, sf_dir, "lineitem")
    sup = read_table(spark, sf_dir, "supplier")
    ret = F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0)
    glob = li.agg(F.avg(ret).alias("p0"))
    per = (
        li.join(
            F.broadcast(sup.select("s_suppkey", "s_nationkey")),
            li["l_suppkey"] == sup["s_suppkey"],
        )
        .groupBy(F.col("s_nationkey").alias("nation"))
        .agg(F.count(F.lit(1)).alias("n"), F.avg(ret).alias("phat"))
    )
    z = (F.col("phat") - F.col("p0")) / F.sqrt(
        F.col("p0") * (1 - F.col("p0")) / F.col("n")
    )
    tests = per.crossJoin(F.broadcast(glob)).select(
        "nation",
        "n",
        z.alias("z"),
        F.least(2 * F.exp(-z * z / 2), F.lit(1.0)).alias("p"),
    )
    # the BH step-up runs as ARRAY algebra over one collected row: the
    # test family is model-sized by definition (one row per hypothesis,
    # never per observation), so ranking + the reverse cumulative min
    # need no global-order window — the repo plans zero unpartitioned
    # windows, no exceptions. O(m²) array scans at m = |hypotheses|.
    packed = tests.agg(
        F.array_sort(
            F.collect_list(F.struct("p", "nation", "n", "z"))
        ).alias("a")
    )
    m = F.size(F.col("a"))
    per_rank = F.transform(
        F.col("a"),
        lambda s, i: F.struct(
            s["nation"].alias("nation"),
            s["n"].alias("n"),
            s["z"].alias("z"),
            s["p"].alias("p"),
            (i + 1).alias("rk"),
            F.array_min(
                F.transform(
                    F.slice(F.col("a"), i + 1, m),
                    lambda s2, j: s2["p"] * m / (i + 1 + j),
                )
            ).alias("p_adj_raw"),
        ),
    )
    rows = packed.select(F.explode(per_rank).alias("r")).select("r.*")
    p_adj = F.least(F.col("p_adj_raw"), F.lit(1.0))
    return rows.select(
        "nation",
        "n",
        F.round("z", 4).alias("z"),
        F.round("p", 6).alias("p"),
        "rk",
        F.round(p_adj, 6).alias("p_adj"),
        F.when(p_adj <= 0.05, 1).otherwise(0).alias("rejected_fdr05"),
    ).orderBy("rk")


@query(
    "stats_sprt_boundary",
    """
    WITH seq AS (
      SELECT o_orderkey, o_orderdate,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS x,
             ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey) AS t
      FROM orders
    ),
    cum AS (
      SELECT t, x,
             SUM(x) OVER (ORDER BY t) AS ones,
             t - SUM(x) OVER (ORDER BY t) AS zeros
      FROM seq
    ),
    llr AS (
      -- H0: p=0.5 vs H1: p=0.6; llr_t = ones·ln(1.2) + zeros·ln(0.8):
      -- two exact integer-scaled multiplications per row, no float fold
      SELECT t, ones, zeros,
             ones * LN(0.6 / 0.5) + zeros * LN(0.4 / 0.5) AS llr
      FROM cum
    ),
    bounds AS (SELECT LN((1 - 0.2) / 0.05) AS up, LN(0.2 / (1 - 0.05)) AS lo),
    crossed AS (
      SELECT MIN(CASE WHEN llr >= bounds.up THEN t END) AS t_accept_h1,
             MIN(CASE WHEN llr <= bounds.lo THEN t END) AS t_accept_h0,
             MAX(t) AS n, ROUND(MAX(llr), 6) AS max_llr,
             ROUND(MIN(llr), 6) AS min_llr
      FROM llr CROSS JOIN bounds
    )
    SELECT n, t_accept_h1, t_accept_h0,
           CASE
             WHEN t_accept_h1 IS NOT NULL
                  AND (t_accept_h0 IS NULL OR t_accept_h1 < t_accept_h0)
               THEN 'accept_h1'
             WHEN t_accept_h0 IS NOT NULL THEN 'accept_h0'
             ELSE 'continue'
           END AS decision,
           max_llr, min_llr
    FROM crossed
    """,
)
def stats_sprt_boundary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald sequential probability ratio test over the order stream
    (H0: p=0.5 vs H1: p=0.6 on the fulfilled flag, α=0.05, β=0.2):
    first boundary crossing and the decision — the always-valid
    sequential monitoring an experimentation platform runs instead of
    fixed-horizon peeking.

    Exactness: the running LLR is reconstructed per row as
    ones·ln(1.2) + zeros·ln(0.8) from INTEGER cumulative counts — two
    multiplications on identical operands in both engines — never a
    float cumulative sum, so there is no fold-order surface at all.

    Plan (100 TB): the cumulative counts are DISTRIBUTED RANKS from the
    scalerank kernel (range-bin + partitioned window + offsets, the
    same kernel `rank_curve` measures at 10M rows) — a row's inclusive
    ones-count is its rank within the x=1 subsequence (x=1 rows) or
    t − rank-within-x=0 (x=0 rows) — plus two equi-joins on the unit
    key. No single-partition WindowExec anywhere, at any scale; the
    boundary scan is one scalar aggregate.
    """
    od = read_table(spark, sf_dir, "orders")
    x = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    seq = od.select(x.alias("x"), "o_orderdate", "o_orderkey")
    dt_type = seq.schema["o_orderdate"].dataType

    def rank_of(df, out):
        spec = RankSpec(
            out=out,
            value="o_orderdate",
            tiebreaks=["o_orderkey"],
            bin_value=monotone_bin_value(F.col("o_orderdate"), dt_type),
        )
        ranked, _total = with_global_ranks(df, [spec])
        return ranked

    # cumulative counts as DISTRIBUTED RANKS (no global-order window —
    # the repo plans zero unpartitioned windows): a row's inclusive
    # ones-count is its rank within the x=1 subsequence if x=1, else
    # t − (rank within the x=0 subsequence); t is the global rank.
    ranked = rank_of(seq, "t")
    r1 = rank_of(seq.filter(F.col("x") == 1), "r1").select("o_orderkey", "r1")
    r0 = rank_of(seq.filter(F.col("x") == 0), "r0").select("o_orderkey", "r0")
    j = ranked.join(r1, "o_orderkey", "left").join(r0, "o_orderkey", "left")
    ones = F.when(F.col("x") == 1, F.col("r1")).otherwise(
        F.col("t") - F.col("r0")
    )
    import math

    c1, c0 = math.log(0.6 / 0.5), math.log(0.4 / 0.5)
    up, lo = math.log((1 - 0.2) / 0.05), math.log(0.2 / (1 - 0.05))
    llr = j.select(
        "t", (ones * c1 + (F.col("t") - ones) * c0).alias("llr")
    )
    crossed = llr.agg(
        F.max("t").alias("n"),
        F.min(F.when(F.col("llr") >= up, F.col("t"))).alias("t_accept_h1"),
        F.min(F.when(F.col("llr") <= lo, F.col("t"))).alias("t_accept_h0"),
        F.round(F.max("llr"), 6).alias("max_llr"),
        F.round(F.min("llr"), 6).alias("min_llr"),
    )
    decision = (
        F.when(
            F.col("t_accept_h1").isNotNull()
            & (
                F.col("t_accept_h0").isNull()
                | (F.col("t_accept_h1") < F.col("t_accept_h0"))
            ),
            "accept_h1",
        )
        .when(F.col("t_accept_h0").isNotNull(), "accept_h0")
        .otherwise("continue")
    )
    return crossed.select(
        "n", "t_accept_h1", "t_accept_h0", decision.alias("decision"),
        "max_llr", "min_llr",
    )


@query(
    "stats_srm_check",
    """
    WITH assigned AS (
      SELECT CASE WHEN ((o_orderkey * 2654435761) % 1000) < 500
                  THEN 'treatment' ELSE 'control' END AS arm
      FROM orders
    ),
    counts AS (
      SELECT SUM(CASE WHEN arm = 'treatment' THEN 1 ELSE 0 END) AS nt,
             SUM(CASE WHEN arm = 'control' THEN 1 ELSE 0 END) AS nc,
             COUNT(*) AS n
      FROM assigned
    )
    SELECT nt, nc, n,
           ROUND((nt - n / 2.0) * (nt - n / 2.0) / (n / 2.0)
               + (nc - n / 2.0) * (nc - n / 2.0) / (n / 2.0), 6) AS chi2,
           ROUND(LEAST(EXP(-(((nt - n / 2.0) * (nt - n / 2.0) / (n / 2.0)
               + (nc - n / 2.0) * (nc - n / 2.0) / (n / 2.0)) / 2)), 1.0), 6)
             AS p_bound,
           CASE WHEN ((nt - n / 2.0) * (nt - n / 2.0) / (n / 2.0)
               + (nc - n / 2.0) * (nc - n / 2.0) / (n / 2.0)) > 10.83
                THEN 1 ELSE 0 END AS srm_alarm
    FROM counts
    """,
)
def stats_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check for a hash-based 50/50 experiment
    assignment (multiplicative hash of the order key): 1-df chi-square
    against the expected split, the Chernoff tail bound e^{−χ²/2} as a
    conservative p-value, and the standard p<0.001-equivalent alarm
    (χ² > 10.83). SRM is the first gate every A/B readout must pass —
    a biased assignment invalidates every downstream metric.

    Plan: one scan → one scalar conditional aggregate. The assignment
    hash is the unit-consistent bucketing a production platform uses,
    so the same expression serves assignment and audit.
    """
    od = read_table(spark, sf_dir, "orders")
    arm = F.when(
        (F.col("o_orderkey").cast("long") * 2654435761) % 1000 < 500,
        "treatment",
    ).otherwise("control")
    counts = od.select(arm.alias("arm")).agg(
        F.sum(F.when(F.col("arm") == "treatment", 1).otherwise(0)).alias("nt"),
        F.sum(F.when(F.col("arm") == "control", 1).otherwise(0)).alias("nc"),
        F.count(F.lit(1)).alias("n"),
    )
    half = F.col("n") / 2.0
    chi2 = (F.col("nt") - half) * (F.col("nt") - half) / half + (
        F.col("nc") - half
    ) * (F.col("nc") - half) / half
    return counts.select(
        "nt",
        "nc",
        "n",
        F.round(chi2, 6).alias("chi2"),
        F.round(F.least(F.exp(-chi2 / 2), F.lit(1.0)), 6).alias("p_bound"),
        F.when(chi2 > 10.83, 1).otherwise(0).alias("srm_alarm"),
    )


@query(
    "stats_uplift_qini_deciles",
    """
    WITH span AS (
      SELECT MIN(o_orderdate) AS lo, MAX(o_orderdate) AS hi FROM orders
    ),
    pop AS (
      SELECT o_orderkey,
             date_diff('day', span.lo, o_orderdate) * 1.0
               / date_diff('day', span.lo, span.hi) AS score,
             CASE WHEN ((o_orderkey * 2654435761) % 1000) < 500
                  THEN 1 ELSE 0 END AS treated,
             CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END AS y
      FROM orders CROSS JOIN span
    ),
    tiled AS (
      SELECT *, NTILE(10) OVER (ORDER BY score DESC, o_orderkey) AS decile
      FROM pop
    ),
    cells AS (
      SELECT decile,
             SUM(treated) AS n_t, SUM(1 - treated) AS n_c,
             SUM(y * treated) AS y_t, SUM(y * (1 - treated)) AS y_c
      FROM tiled GROUP BY decile
    ),
    cum AS (
      SELECT decile, n_t, n_c, y_t, y_c,
             SUM(y_t) OVER w AS cy_t, SUM(y_c) OVER w AS cy_c,
             SUM(n_t) OVER w AS cn_t, SUM(n_c) OVER w AS cn_c
      FROM cells
      WINDOW w AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    )
    SELECT decile, n_t, n_c,
           ROUND(y_t * 1.0 / n_t - y_c * 1.0 / n_c, 6) AS decile_uplift,
           ROUND(cy_t - cy_c * (cn_t * 1.0 / cn_c), 4) AS qini
    FROM cum ORDER BY decile
    """,
)
def stats_uplift_qini_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uplift-model evaluation by Qini deciles: the population ranks by
    a deterministic uplift score (order-date recency — genuinely
    correlated with the 'still open' outcome), splits into exact
    deciles, and each decile reports its treated-minus-control outcome
    lift plus the cumulative Qini statistic
    cum(y_t) − cum(y_c)·cum(n_t)/cum(n_c) — the curve an uplift/
    targeting model is judged by (area under it vs the random-targeting
    diagonal).

    Plan: deciles come from the scalerank NTILE kernel (range-bin +
    partitioned window — no single-partition global sort at any scale);
    the decile cells are 10 rows, so the cumulative sweep runs as
    pinned-order ARRAY algebra over one collected row, never an
    unpartitioned window. Treatment is the SRM check's assignment hash
    — the same unit bucketing a real platform uses end to end.
    """
    od = read_table(spark, sf_dir, "orders")
    span = od.agg(
        F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi")
    )
    pop = od.crossJoin(F.broadcast(span)).select(
        "o_orderkey",
        (
            F.datediff("o_orderdate", "lo") * 1.0 / F.datediff("hi", "lo")
        ).alias("score"),
        F.when(
            (F.col("o_orderkey").cast("long") * 2654435761) % 1000 < 500, 1
        )
        .otherwise(0)
        .alias("treated"),
        F.when(F.col("o_orderstatus") == "F", 0).otherwise(1).alias("y"),
    )
    tiled = with_ntile(
        pop, 10, "score", ["o_orderkey"], "decile", descending=True
    )
    cells = tiled.groupBy("decile").agg(
        F.sum("treated").alias("n_t"),
        F.sum(1 - F.col("treated")).alias("n_c"),
        F.sum(F.col("y") * F.col("treated")).alias("y_t"),
        F.sum(F.col("y") * (1 - F.col("treated"))).alias("y_c"),
    )
    packed = cells.agg(
        F.array_sort(
            F.collect_list(F.struct("decile", "n_t", "n_c", "y_t", "y_c"))
        ).alias("a")
    )
    per_decile = F.transform(
        F.col("a"),
        lambda s, i: F.struct(
            s["decile"].alias("decile"),
            s["n_t"].alias("n_t"),
            s["n_c"].alias("n_c"),
            F.round(
                s["y_t"] * 1.0 / s["n_t"] - s["y_c"] * 1.0 / s["n_c"], 6
            ).alias("decile_uplift"),
            F.round(
                F.aggregate(
                    F.slice(F.col("a"), 1, i + 1),
                    F.lit(0.0),
                    lambda acc, s2: acc + s2["y_t"],
                )
                - F.aggregate(
                    F.slice(F.col("a"), 1, i + 1),
                    F.lit(0.0),
                    lambda acc, s2: acc + s2["y_c"],
                )
                * (
                    F.aggregate(
                        F.slice(F.col("a"), 1, i + 1),
                        F.lit(0.0),
                        lambda acc, s2: acc + s2["n_t"],
                    )
                    / F.aggregate(
                        F.slice(F.col("a"), 1, i + 1),
                        F.lit(0.0),
                        lambda acc, s2: acc + s2["n_c"],
                    )
                ),
                4,
            ).alias("qini"),
        ),
    )
    return (
        packed.select(F.explode(per_decile).alias("r"))
        .select("r.*")
        .orderBy("decile")
    )


@query(
    "stats_isotonic_calibration",
    """
    WITH span AS (
      SELECT MIN(o_orderdate) AS lo, MAX(o_orderdate) AS hi FROM orders
    ),
    scored AS (
      SELECT date_diff('day', span.lo, o_orderdate) * 1.0
               / date_diff('day', span.lo, span.hi) AS score,
             CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END AS y
      FROM orders CROSS JOIN span
    ),
    cells AS (
      SELECT LEAST(CAST(FLOOR(score * 10) AS BIGINT), 9) AS bin,
             COUNT(*) AS n, SUM(y) AS yy
      FROM scored GROUP BY 1
    ),
    packed AS (
      SELECT LIST(n ORDER BY bin) AS ns, LIST(yy ORDER BY bin) AS ys,
             LIST(bin ORDER BY bin) AS bins, COUNT(*) AS m
      FROM cells
    ),
    pref AS (
      SELECT bins, ns, ys, m,
             [list_reduce(list_prepend(CAST(0 AS BIGINT), ns[1:i]),
                          (a, b) -> a + b) for i in range(0, m + 1)] AS cn,
             [list_reduce(list_prepend(CAST(0 AS BIGINT), ys[1:i]),
                          (a, b) -> a + b) for i in range(0, m + 1)] AS cy
      FROM packed
    ),
    iso AS (
      SELECT bins, ns, ys, m, cn, cy,
             -- minimax characterization of isotonic regression:
             -- iso_i = max_{j<=i} min_{k>=i} wmean(j..k); weighted means
             -- are ratios of INTEGER prefix-sum differences, exact in
             -- both engines
             [list_aggregate(
                [list_aggregate(
                   [(cy[k + 2] - cy[j + 1]) * 1.0
                      / (cn[k + 2] - cn[j + 1])
                    for k in range(i, m)], 'min')
                 for j in range(0, i + 1)], 'max')
              for i in range(0, m)] AS fit
      FROM pref
    )
    SELECT u.b AS bin, u.n, 
           ROUND(u.yv * 1.0 / u.n, 6) AS raw_acc,
           ROUND(u.f, 6) AS iso_acc
    FROM iso, LATERAL (
      SELECT UNNEST(bins) AS b, UNNEST(ns) AS n, UNNEST(ys) AS yv,
             UNNEST(fit) AS f
    ) u
    ORDER BY bin
    """,
)
def stats_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) calibration of the reliability bins behind
    `stats_calibration_ece`: the monotone step function that minimizes
    weighted squared error to the per-bin empirical positive rates —
    the standard post-hoc calibrator when Platt scaling's sigmoid shape
    is wrong. Computed CLOSED-FORM via the minimax characterization
    iso_i = max_{j≤i} min_{k≥i} wmean(acc[j..k]) instead of the
    sequential pool-adjacent-violators loop: every weighted mean is a
    ratio of INTEGER prefix-sum differences, so both engines agree
    bit-for-bit, and the O(m³) scan is array algebra over the
    model-sized bin frame (m=10) — no iteration, no window, no UDF.

    Plan: one scan → one 10-group hash aggregate; everything after is
    a single collected row of array expressions. At 100 TB only the
    first aggregate touches data.
    """
    od = read_table(spark, sf_dir, "orders")
    span = od.agg(
        F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi")
    )
    scored = od.crossJoin(F.broadcast(span)).select(
        (
            F.datediff("o_orderdate", "lo") * 1.0 / F.datediff("hi", "lo")
        ).alias("score"),
        F.when(F.col("o_orderstatus") == "F", 0).otherwise(1).alias("y"),
    )
    cells = scored.groupBy(
        F.least(F.floor(F.col("score") * 10).cast("long"), F.lit(9)).alias(
            "bin"
        )
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("yy"))
    packed = cells.agg(
        F.array_sort(F.collect_list(F.struct("bin", "n", "yy"))).alias("a")
    )
    a = F.col("a")
    m = F.size(a)

    def prefix(field):
        # cn[i] = sum of first i values (i = 0..m), exact integer folds
        return F.transform(
            F.sequence(F.lit(0), m),
            lambda i: F.aggregate(
                F.slice(a, 1, i),
                F.lit(0).cast("long"),
                lambda acc, s: acc + s[field],
            ),
        )

    packed = packed.select(
        a, prefix("n").alias("cn"), prefix("yy").alias("cy")
    )
    cn, cy = F.col("cn"), F.col("cy")

    def wmean(j, k):  # mean of bins j..k inclusive, 0-based
        return (
            (F.element_at(cy, k + F.lit(2)) - F.element_at(cy, j + F.lit(1)))
            * F.lit(1.0)
            / (
                F.element_at(cn, k + F.lit(2))
                - F.element_at(cn, j + F.lit(1))
            )
        )

    fit = F.transform(
        # asc_seq: m == 0 (empty input) must yield an empty fit, not a
        # descending [0,-1] whose i=-1 leg hits element_at(cn, 0).
        asc_seq(F.lit(0), m - 1),
        lambda i: F.array_max(
            F.transform(
                F.sequence(F.lit(0), i),
                lambda j: F.array_min(
                    F.transform(F.sequence(i, m - 1), lambda k: wmean(j, k))
                ),
            )
        ),
    )
    rows = packed.select(
        F.explode(F.arrays_zip(a, fit.alias("f"))).alias("z")
    ).select(
        F.col("z.a.bin").alias("bin"),
        F.col("z.a.n").alias("n"),
        F.round(F.col("z.a.yy") * 1.0 / F.col("z.a.n"), 6).alias("raw_acc"),
        F.round(F.col("z.f"), 6).alias("iso_acc"),
    )
    return rows.orderBy("bin")


@query(
    "stats_theil_sen_trend",
    """
    WITH monthly AS (
      SELECT (EXTRACT(YEAR FROM o_orderdate) * 12
              + EXTRACT(MONTH FROM o_orderdate)) AS m,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
      FROM orders GROUP BY 1
    ),
    slopes AS (
      SELECT (b.rev - a.rev) / (b.m - a.m) AS slope
      FROM monthly a JOIN monthly b ON a.m < b.m
    )
    SELECT (SELECT COUNT(*) FROM monthly) AS n_months,
           COUNT(*) AS n_pairs,
           ROUND(QUANTILE_CONT(slope, 0.5), 4) AS theil_sen_slope,
           ROUND(QUANTILE_CONT(slope, 0.1), 4) AS slope_p10,
           ROUND(QUANTILE_CONT(slope, 0.9), 4) AS slope_p90
    FROM slopes
    """,
)
def stats_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of monthly revenue: the median of all
    pairwise slopes — up to ~29% outlier-contaminated months cannot
    move it, unlike OLS where one anomalous month owns the fit. The
    p10/p90 slope band is the nonparametric confidence envelope.

    Plan: the data-sized pass is ONE month-grain aggregate (exact
    DECIMAL sums); the pairwise slope expansion runs on the ~84-row
    month series — O(months²) pairs of MODEL-sized data, the bounded
    self-join contract. Slopes are identical-operand divisions, so the
    interpolated percentiles agree across engines.
    """
    od = read_table(spark, sf_dir, "orders")
    monthly = od.groupBy(
        (
            F.year("o_orderdate") * 12 + F.month("o_orderdate")
        ).alias("m")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("rev")
    )
    a = monthly.select(F.col("m").alias("ma"), F.col("rev").alias("ra"))
    b = monthly.select(F.col("m").alias("mb"), F.col("rev").alias("rb"))
    slopes = a.join(b, F.col("ma") < F.col("mb")).select(
        ((F.col("rb") - F.col("ra")) / (F.col("mb") - F.col("ma"))).alias(
            "slope"
        )
    )
    n_months = monthly.agg(F.count(F.lit(1)).alias("n_months"))
    return (
        slopes.agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.percentile("slope", 0.5), 4).alias("theil_sen_slope"),
            F.round(F.percentile("slope", 0.1), 4).alias("slope_p10"),
            F.round(F.percentile("slope", 0.9), 4).alias("slope_p90"),
        )
        .crossJoin(F.broadcast(n_months))
        .select(
            "n_months", "n_pairs", "theil_sen_slope", "slope_p10", "slope_p90"
        )
    )


@query(
    "agg_weighted_median",
    """
    WITH w AS (
      SELECT l_returnflag AS grp, l_extendedprice AS price,
             CAST(l_quantity AS BIGINT) AS qty
      FROM lineitem
    ),
    cum AS (
      SELECT grp, price, qty,
             SUM(qty) OVER (PARTITION BY grp ORDER BY price, qty
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cw,
             SUM(qty) OVER (PARTITION BY grp) AS tw
      FROM w
    )
    SELECT grp, MIN(price) AS weighted_median_price,
           ANY_VALUE(tw) AS total_weight
    FROM cum WHERE cw * 2 >= tw
    GROUP BY grp ORDER BY grp
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag: the smallest
    price whose cumulative quantity weight reaches half the group's
    total — the inventory-weighted 'typical price' that an unweighted
    median misstates whenever cheap items ship in bulk.

    Exactness: weights are INTEGER quantities, so the cumulative sums
    and the ×2 threshold comparison are exact in both engines; the
    (price, qty) window order is a total order within each group.

    Plan: one partitioned ordered window per group + one aggregate —
    the window partitions on the group key, so there is no
    single-partition stage; at extreme per-group cardinality swap in
    `approx_percentile`-style sketches with weighted counts.
    """
    li = read_table(spark, sf_dir, "lineitem")
    w = li.select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_extendedprice").alias("price"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    wc = Window.partitionBy("grp").orderBy("price", "qty").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy("grp")
    cum = w.select(
        "grp",
        "price",
        F.sum("qty").over(wc).alias("cw"),
        F.sum("qty").over(wt).alias("tw"),
    )
    return (
        cum.filter(F.col("cw") * 2 >= F.col("tw"))
        .groupBy("grp")
        .agg(
            F.min("price").alias("weighted_median_price"),
            F.first("tw").alias("total_weight"),
        )
        .orderBy("grp")
    )


@query(
    "stats_ols_two_feature",
    """
    WITH q AS (
      -- exactness protocol: quantize regressors/response to integer
      -- grids so every co-moment sum is an order-free exact integer
      SELECT CAST(l_quantity AS BIGINT) AS x1,
             CAST(ROUND(l_discount * 100) AS BIGINT) AS x2,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
    ),
    mom AS (
      SELECT COUNT(*) AS n,
             SUM(x1) AS s1, SUM(x2) AS s2, SUM(y) AS sy,
             SUM(x1 * x1) AS s11, SUM(x2 * x2) AS s22,
             SUM(x1 * x2) AS s12, SUM(x1 * y) AS s1y, SUM(x2 * y) AS s2y
      FROM q
    ),
    c AS (
      SELECT n,
             (s11 - s1 * 1.0 * s1 / n) AS a11,
             (s22 - s2 * 1.0 * s2 / n) AS a22,
             (s12 - s1 * 1.0 * s2 / n) AS a12,
             (s1y - s1 * 1.0 * sy / n) AS b1,
             (s2y - s2 * 1.0 * sy / n) AS b2,
             s1 * 1.0 / n AS m1, s2 * 1.0 / n AS m2, sy * 1.0 / n AS my
      FROM mom
    )
    SELECT n,
           ROUND(((b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12)) / 100.0,
                 6) AS beta_quantity,
           ROUND(((b2 * a11 - b1 * a12) / (a11 * a22 - a12 * a12)) / 100.0
                 * 100.0, 6) AS beta_discount_pct,
           ROUND((my - (b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12) * m1
                     - (b2 * a11 - b1 * a12) / (a11 * a22 - a12 * a12) * m2)
                 / 100.0, 4) AS intercept
    FROM c
    """,
)
def stats_ols_two_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature OLS (price ~ quantity + discount) in CLOSED FORM from
    co-moment sums — Cramer's rule on the 2×2 centered normal equations.
    The multivariate companion to `agg_corr_regr`'s single-regressor
    slope: every statistic is a ratio of partial-aggregatable sums, so
    the whole fit is ONE map-side-combinable aggregate at any scale
    (the mergeable-moments pattern; for p features it becomes a p×p
    Gram matrix accumulated the same way).

    Exactness: inputs are quantized to integer grids (quantity is
    integral; discount/price to 1e-2), making all nine co-moment sums
    exact integers; the closed-form algebra is the identical operand
    chain on both engines. Coefficients are reported in natural units
    (price per unit quantity; price per discount point).
    """
    li = read_table(spark, sf_dir, "lineitem")
    q = li.select(
        F.col("l_quantity").cast("long").alias("x1"),
        F.round(F.col("l_discount") * 100).cast("long").alias("x2"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    mom = q.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
    )
    n = F.col("n")
    a11 = F.col("s11") - F.col("s1") * 1.0 * F.col("s1") / n
    a22 = F.col("s22") - F.col("s2") * 1.0 * F.col("s2") / n
    a12 = F.col("s12") - F.col("s1") * 1.0 * F.col("s2") / n
    b1 = F.col("s1y") - F.col("s1") * 1.0 * F.col("sy") / n
    b2 = F.col("s2y") - F.col("s2") * 1.0 * F.col("sy") / n
    det = a11 * a22 - a12 * a12
    beta1 = (b1 * a22 - b2 * a12) / det
    beta2 = (b2 * a11 - b1 * a12) / det
    m1, m2, my = (
        F.col("s1") * 1.0 / n,
        F.col("s2") * 1.0 / n,
        F.col("sy") * 1.0 / n,
    )
    return mom.select(
        "n",
        F.round(beta1 / 100.0, 6).alias("beta_quantity"),
        F.round(beta2 / 100.0 * 100.0, 6).alias("beta_discount_pct"),
        F.round((my - beta1 * m1 - beta2 * m2) / 100.0, 4).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# round-6 addition (session 2): Spearman rank correlation
# ---------------------------------------------------------------------------


@query(
    "stats_spearman_corr",
    """
    WITH pts AS (
      SELECT c_custkey, c_acctbal AS x,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
      FROM customer JOIN orders ON o_custkey = c_custkey
      GROUP BY c_custkey, c_acctbal
    ),
    r AS (
      SELECT
        2 * (RANK() OVER (ORDER BY x)) + COUNT(*) OVER (PARTITION BY x) - 1
          AS r2x,
        2 * (RANK() OVER (ORDER BY y)) + COUNT(*) OVER (PARTITION BY y) - 1
          AS r2y
      FROM pts
    ),
    s AS (
      SELECT COUNT(*)::BIGINT AS n,
             SUM(r2x)::BIGINT AS sx, SUM(r2y)::BIGINT AS sy,
             SUM(r2x * r2y)::BIGINT AS sxy,
             SUM(r2x * r2x)::BIGINT AS sxx,
             SUM(r2y * r2y)::BIGINT AS syy
      FROM r
    )
    SELECT n,
           ROUND((n * sxy - sx * sy)
                 / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)), 6)
             AS spearman_rho
    FROM s
    """,
)
def stats_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between a customer's account balance
    and their total order spend — the tie-aware, outlier-robust
    complement to `agg_corr_regr`'s Pearson.

    Exactness protocol: average ranks are carried DOUBLED so they stay
    integers — for value v, 2·avgrank = 2·|{u < v}| + |{u = v}| + 1 —
    and Spearman is invariant under the ×2. All five moment sums are
    then integer (LONG both engines; DuckDB's HUGEINT cast down), the
    numerator n·Sxy − Sx·Sy is exact 64-bit arithmetic, and the only
    floats are two correctly-rounded SQRTs and one division — identical
    IEEE in both engines, rounded to 6.

    Scale shape: NO global sort — the doubled average ranks come from
    the distinct-value histogram (groupBy x → counts) run through
    `with_global_cumsums` (range-bin + partitioned within-bin window),
    then joined back on the value. The histogram is |distinct values|,
    not |rows|; the final moments are one map-side-combinable aggregate.
    """
    from databricks_end_to_end_lakeflow_project_spark.operators.scalerank import (
        with_global_cumsums,
    )
    from databricks_end_to_end_lakeflow_project_spark.functions.compat import money

    cu = read_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    od = read_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    pts = (
        cu.join(od, cu["c_custkey"] == od["o_custkey"])
        .groupBy("c_custkey", "c_acctbal")
        .agg(F.sum(money("o_totalprice")).alias("y"))
        .select(F.col("c_acctbal").alias("x"), "y")
    )

    def doubled_ranks(df: DataFrame, col: str, out: str) -> DataFrame:
        hist = df.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
        cum, _tot = with_global_cumsums(hist, col, [], {"cum": F.col("cnt")})
        # 2*avgrank = 2*(cum_inclusive - cnt) + cnt + 1
        return cum.select(
            col, (2 * (F.col("cum") - F.col("cnt")) + F.col("cnt") + 1).alias(out)
        )

    ranked = (
        pts.join(doubled_ranks(pts, "x", "r2x"), "x")
        .join(doubled_ranks(pts.select(F.col("y").alias("yv")), "yv", "r2y")
              .withColumnRenamed("yv", "y"), "y")
    )
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r2x").alias("sx"),
        F.sum("r2y").alias("sy"),
        F.sum(F.col("r2x") * F.col("r2y")).alias("sxy"),
        F.sum(F.col("r2x") * F.col("r2x")).alias("sxx"),
        F.sum(F.col("r2y") * F.col("r2y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.sqrt((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"))
    deny = F.sqrt((F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double"))
    return s.select(
        "n",
        F.round(num.cast("double") / (denx * deny), 6).alias("spearman_rho"),
    )


@query(
    "monitor_benford_first_digit",
    """
    WITH cents AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
      FROM orders WHERE o_totalprice > 0
    ),
    digits AS (
      SELECT c // POWER(10, LENGTH(CAST(c AS VARCHAR)) - 1)::BIGINT AS d
      FROM cents
    ),
    obs AS (SELECT d, COUNT(*) AS n FROM digits GROUP BY d),
    tot AS (SELECT SUM(n) AS total FROM obs)
    SELECT CAST(d AS BIGINT) AS digit, n AS n_orders,
           ROUND(n::DOUBLE / total, 6) AS observed_share,
           ROUND(LOG10(1 + 1.0 / d), 6) AS benford_share,
           ROUND(n::DOUBLE / total - LOG10(1 + 1.0 / d), 6) AS delta
    FROM obs, tot
    ORDER BY digit
    """,
)
def monitor_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of order totals — the classic forensic
    data-quality check: organically-generated monetary amounts follow
    P(first digit = d) = log10(1 + 1/d); fabricated or truncated feeds
    don't. Reports observed vs expected share per leading digit.

    Exactness: amounts snap to the cent grid first (exact BIGINT), and
    the leading digit is integer arithmetic off the DIGIT COUNT of that
    integer — no float log10-of-value, whose ULP behavior at powers of
    ten differs between engines. The only floats are the 9 constant
    Benford shares and one share division, rounded at 6.

    Scale: one grouped scan into a 9-row frame; everything after is
    driver-trivial."""
    od = read_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    cents = od.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c")
    )
    d = (
        F.col("c")
        / F.pow(F.lit(10.0), (F.length(F.col("c").cast("string")) - 1).cast("double"))
    ).cast("long")
    obs = cents.select(d.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    total = obs.agg(F.sum("n_orders")).collect()[0][0]
    benford = F.round(F.log10(1 + 1.0 / F.col("digit")), 6)
    share = F.round(F.col("n_orders").cast("double") / F.lit(float(total)), 6)
    return obs.select(
        "digit",
        "n_orders",
        share.alias("observed_share"),
        benford.alias("benford_share"),
        F.round(
            F.col("n_orders").cast("double") / F.lit(float(total))
            - F.log10(1 + 1.0 / F.col("digit")),
            6,
        ).alias("delta"),
    ).orderBy("digit")


_GINI_GRID = list(range(-5, 100, 5))  # split candidates: bucket upper edges


@query(
    "stats_gini_split_scan",
    f"""
    WITH pts AS (
      SELECT CAST(FLOOR(c_acctbal / 100) AS BIGINT) AS b,
             CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS y
      FROM customer
    ),
    hist AS (
      SELECT b, COUNT(*) AS n, SUM(y) AS pos FROM pts GROUP BY b
    ),
    tot AS (SELECT SUM(n) AS nn, SUM(pos) AS pp FROM hist),
    grid AS (SELECT UNNEST({_GINI_GRID}) AS t),
    lefts AS (
      SELECT g.t, SUM(h.n) AS n_l, SUM(h.pos) AS pos_l
      FROM grid g JOIN hist h ON h.b <= g.t
      GROUP BY g.t
    )
    SELECT 100 * (t + 1) AS threshold_bal,
           CAST(n_l AS BIGINT) AS n_left, CAST(pos_l AS BIGINT) AS pos_left,
           ROUND(
             (n_l * n_l - pos_l * pos_l
              - (n_l - pos_l) * (n_l - pos_l))::DOUBLE / (nn * n_l)
             + ((nn - n_l) * (nn - n_l) - (pp - pos_l) * (pp - pos_l)
                - ((nn - n_l) - (pp - pos_l)) * ((nn - n_l) - (pp - pos_l)))::DOUBLE
               / (nn * (nn - n_l)), 8) AS weighted_gini
    FROM lefts, tot
    ORDER BY threshold_bal
    """,
)
def stats_gini_split_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-based split-point scan — the inner loop of decision-tree
    training the way the distributed GBDT systems do it (LightGBM/
    XGBoost-hist; Spark MLlib's binned trees): bin the feature ONCE into
    a bounded histogram of (count, positive-count), then score every
    candidate threshold against the histogram instead of rescanning the
    data. Feature: account balance (bucket width 100); target: the
    BUILDING segment; score: weighted Gini impurity of the induced
    (left, right) split, one row per candidate.

    Exactness: per-side impurity (n/N)·(1 − p₊² − p₋²) is algebraically
    (n² − pos² − neg²)/(N·n) — all integers until ONE double division
    per side and one add, identical IEEE in both engines, rounded at 8.

    Scale: the corpus is scanned once (map-side-combinable histogram);
    the threshold scan touches only histogram × grid rows (~hundreds) —
    an explode + filter, no join against the data, no second scan, no
    driver loop. Deeper trees repeat the same pass per node on the
    partitioned residual sets.
    """
    cust = read_table(spark, sf_dir, "customer")
    hist = (
        cust.select(
            F.floor(F.col("c_acctbal") / 100).cast("long").alias("b"),
            F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias("y"),
        )
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos"))
    )
    tot = hist.agg(F.sum("n").alias("nn"), F.sum("pos").alias("pp")).collect()[0]
    nn, pp = int(tot["nn"]), int(tot["pp"])
    lefts = (
        hist.select(
            "b", "n", "pos",
            F.explode(F.array(*[F.lit(t) for t in _GINI_GRID])).alias("t"),
        )
        .filter(F.col("b") <= F.col("t"))
        .groupBy("t")
        .agg(F.sum("n").alias("n_l"), F.sum("pos").alias("pos_l"))
    )
    n_l, pos_l = F.col("n_l"), F.col("pos_l")
    neg_l = n_l - pos_l
    n_r = F.lit(nn) - n_l
    pos_r = F.lit(pp) - pos_l
    neg_r = n_r - pos_r
    gini = F.round(
        (n_l * n_l - pos_l * pos_l - neg_l * neg_l).cast("double") / (F.lit(nn) * n_l)
        + (n_r * n_r - pos_r * pos_r - neg_r * neg_r).cast("double")
        / (F.lit(nn) * n_r),
        8,
    )
    return lefts.select(
        (100 * (F.col("t") + 1)).cast("long").alias("threshold_bal"),
        n_l.alias("n_left"),
        pos_l.alias("pos_left"),
        gini.alias("weighted_gini"),
    ).orderBy("threshold_bal")


@query(
    "stats_brier_decomposition",
    """
    WITH span AS (
      SELECT MIN(o_orderdate) AS lo, MAX(o_orderdate) AS hi FROM orders
    ),
    scored AS (
      SELECT date_diff('day', span.lo, o_orderdate) * 1.0
               / date_diff('day', span.lo, span.hi) AS score,
             CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END AS y
      FROM orders CROSS JOIN span
    ),
    binned AS (
      SELECT LEAST(CAST(FLOOR(score * 10) AS BIGINT), 9) AS bin,
             COUNT(*) AS n, SUM(score) AS s_conf, SUM(y) AS s_pos
      FROM scored GROUP BY 1
    ),
    tot AS (
      SELECT SUM(n) AS nn, SUM(s_pos) AS pp,
             (SELECT SUM((score - y) * (score - y)) FROM scored) AS sq
      FROM binned
    )
    SELECT ROUND(sq / nn, 6) AS brier_raw,
           ROUND(SUM(n * (s_conf / n - s_pos * 1.0 / n)
                       * (s_conf / n - s_pos * 1.0 / n)) / nn, 6)
             AS reliability,
           ROUND(SUM(n * (s_pos * 1.0 / n - pp * 1.0 / nn)
                       * (s_pos * 1.0 / n - pp * 1.0 / nn)) / nn, 6)
             AS resolution,
           ROUND((pp * 1.0 / nn) * (1 - pp * 1.0 / nn), 6) AS uncertainty
    FROM binned CROSS JOIN tot
    GROUP BY nn, pp, sq
    """,
)
def stats_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score over the ECE reliability
    bins (`stats_calibration_ece`'s score/outcome): BRIER(binned) =
    RELIABILITY − RESOLUTION + UNCERTAINTY — reliability says how far
    bin confidence sits from bin outcome (lower = better calibrated),
    resolution says how much the bins separate outcomes (higher =
    more informative), uncertainty is the outcome base-rate variance.
    The raw (unbinned) Brier is reported alongside.

    Plan: identical shape to the ECE query — one scan into a 10-group
    hash aggregate; every component is a ratio of the same partial sums,
    so the decomposition costs nothing beyond the reliability diagram.
    """
    od = read_table(spark, sf_dir, "orders")
    span = od.agg(F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi"))
    scored = od.crossJoin(F.broadcast(span)).select(
        (F.datediff("o_orderdate", "lo") * 1.0 / F.datediff("hi", "lo")).alias(
            "score"
        ),
        F.when(F.col("o_orderstatus") == "F", 0).otherwise(1).alias("y"),
    )
    binned = scored.groupBy(
        F.least(F.floor(F.col("score") * 10).cast("long"), F.lit(9)).alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("score").alias("s_conf"),
        F.sum("y").alias("s_pos"),
    )
    sq = float(
        scored.agg(
            F.sum((F.col("score") - F.col("y")) * (F.col("score") - F.col("y")))
        ).collect()[0][0]
    )
    tot = binned.agg(F.sum("n").alias("nn"), F.sum("s_pos").alias("pp")).collect()[0]
    nn, pp = int(tot["nn"]), int(tot["pp"])
    conf = F.col("s_conf") / F.col("n")
    obar_b = F.col("s_pos") * 1.0 / F.col("n")
    obar = pp * 1.0 / nn
    return binned.agg(
        F.round(F.lit(sq / nn), 6).alias("brier_raw"),
        F.round(F.sum(F.col("n") * (conf - obar_b) * (conf - obar_b)) / nn, 6).alias(
            "reliability"
        ),
        F.round(
            F.sum(F.col("n") * (obar_b - F.lit(obar)) * (obar_b - F.lit(obar))) / nn, 6
        ).alias("resolution"),
        F.round(F.lit(obar * (1 - obar)), 6).alias("uncertainty"),
    )


@query(
    "stats_wilson_lower_bound",
    """
    WITH seg AS (
      SELECT c_mktsegment AS segment,
             COUNT(*) AS n,
             SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS pos
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment
    )
    SELECT segment, n, pos,
           ROUND(pos * 1.0 / n, 6) AS p_hat,
           ROUND((pos * 1.0 / n + 1.9208 / n
                  - 1.96 * SQRT((pos * 1.0 / n) * (1 - pos * 1.0 / n) / n
                                + 0.9604 / (n * n)))
                 / (1 + 3.8416 / n), 6) AS wilson_lower
    FROM seg ORDER BY wilson_lower DESC, segment
    """,
)
def stats_wilson_lower_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score lower bound at 95% on per-segment fulfilled-order
    rates — the sort key that correctly ranks proportions with unequal
    sample sizes (the 'how not to sort by average rating' fix): a
    segment with 3/3 ranks below one with 950/1000 because its interval
    is wide. Constants inlined: z=1.96, z²=3.8416, z²/2=1.9208,
    z²/4=0.9604.

    Exactness: integer (n, pos) per group; the bound is a fixed
    expression tree of divisions, one SQRT, rounded 6 — identical IEEE
    in both engines. Plan: one join + one grouped aggregate; the rank
    is over the model-sized segment frame.
    """
    od = read_table(spark, sf_dir, "orders").select("o_custkey", "o_orderstatus")
    cu = read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    seg = (
        od.join(cu, od["o_custkey"] == cu["c_custkey"])
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("pos"),
        )
    )
    p = F.col("pos") * 1.0 / F.col("n")
    n = F.col("n")
    lower = (
        p + 1.9208 / n - 1.96 * F.sqrt(p * (1 - p) / n + 0.9604 / (n * n))
    ) / (1 + 3.8416 / n)
    return seg.select(
        "segment", "n", "pos",
        F.round(p, 6).alias("p_hat"),
        F.round(lower, 6).alias("wilson_lower"),
    ).orderBy(F.desc("wilson_lower"), "segment")


# ---------------------------------------------------------------------------
# round-7 additions: two-sample inference, association, agreement,
# concentration, and empirical-Bayes shrinkage
# ---------------------------------------------------------------------------


def _click_view_cents_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (n1, n2, a1, b1, a2, b2): count, Σ cents and Σ cents² of
    event value for 'click' (1 / a) and 'view' (2 / b). Values quantize to
    integer cents, so every moment is an exact 64-bit sum in both
    engines; one map-side-combinable groupBy, then a 2-row pivot."""
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    cents = F.round(F.col("value") * 100).cast("long")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("s1"),
        F.sum(cents * cents).alias("s2"),
    )
    return g.agg(
        F.max(F.when(F.col("event_type") == "click", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("event_type") == "view", F.col("n"))).alias("n2"),
        F.max(F.when(F.col("event_type") == "click", F.col("s1"))).alias("a1"),
        F.max(F.when(F.col("event_type") == "view", F.col("s1"))).alias("b1"),
        F.max(F.when(F.col("event_type") == "click", F.col("s2"))).alias("a2"),
        F.max(F.when(F.col("event_type") == "view", F.col("s2"))).alias("b2"),
    )


@query(
    "stats_welch_ttest",
    """
    WITH g AS (
      SELECT event_type,
             COUNT(*) AS n,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS s1,
             SUM(CAST(ROUND(value * 100) AS BIGINT)
                 * CAST(ROUND(value * 100) AS BIGINT)) AS s2
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY event_type
    ),
    w AS (
      SELECT
        MAX(CASE WHEN event_type = 'click' THEN n END) AS n1,
        MAX(CASE WHEN event_type = 'view' THEN n END) AS n2,
        MAX(CASE WHEN event_type = 'click' THEN s1 END) AS a1,
        MAX(CASE WHEN event_type = 'view' THEN s1 END) AS b1,
        MAX(CASE WHEN event_type = 'click' THEN s2 END) AS a2,
        MAX(CASE WHEN event_type = 'view' THEN s2 END) AS b2
      FROM g
    ),
    t AS (
      SELECT n1, n2,
             (a1 / 100.0) / n1 AS m1, (b1 / 100.0) / n2 AS m2,
             ((a2 / 10000.0) - (a1 / 100.0) * (a1 / 100.0) / n1)
               / (n1 - 1) / n1 AS se1sq,
             ((b2 / 10000.0) - (b1 / 100.0) * (b1 / 100.0) / n2)
               / (n2 - 1) / n2 AS se2sq
      FROM w
    )
    SELECT n1, n2,
           ROUND(m1 - m2, 4) AS mean_diff,
           ROUND((m1 - m2) / SQRT(se1sq + se2sq), 4) AS t_stat,
           ROUND(POWER(se1sq + se2sq, 2)
                 / (POWER(se1sq, 2) / (n1 - 1) + POWER(se2sq, 2) / (n2 - 1)),
                 2) AS welch_df
    FROM t
    """,
)
def stats_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample t-test (unequal variances) on event value:
    'click' vs 'view' — the default A/B read when variance homogeneity
    can't be assumed, with the Welch–Satterthwaite df. Complements
    [[stats_mann_whitney_u]] (rank-based) and [[stats_ab_cuped]]
    (variance-reduced).

    Exactness: values quantized to integer cents, so every groupwise
    moment (n, Σx, Σx²) is an exact 64-bit sum in both engines; the
    t-stat/df are fixed expression trees on those six integers, rounded
    4/2. Plan: ONE map-side-combinable groupBy over the filtered scan,
    then a 2-row pivot — nothing else touches the corpus.
    """
    w = _click_view_cents_moments(spark, sf_dir)
    n1, n2 = F.col("n1"), F.col("n2")
    m1 = (F.col("a1") / 100.0) / n1
    m2 = (F.col("b1") / 100.0) / n2
    se1sq = ((F.col("a2") / 10000.0) - (F.col("a1") / 100.0) * (F.col("a1") / 100.0) / n1) / (n1 - 1) / n1
    se2sq = ((F.col("b2") / 10000.0) - (F.col("b1") / 100.0) * (F.col("b1") / 100.0) / n2) / (n2 - 1) / n2
    return w.select(
        "n1",
        "n2",
        F.round(m1 - m2, 4).alias("mean_diff"),
        F.round((m1 - m2) / F.sqrt(se1sq + se2sq), 4).alias("t_stat"),
        F.round(
            F.pow(se1sq + se2sq, 2)
            / (F.pow(se1sq, 2) / (n1 - 1) + F.pow(se2sq, 2) / (n2 - 1)),
            2,
        ).alias("welch_df"),
    )


@query(
    "stats_chisq_independence",
    """
    WITH cells AS (
      SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY lang, source
    ),
    tot AS (
      SELECT SUM(o) AS n FROM cells
    ),
    marg AS (
      SELECT c.lang, c.source, c.o,
             SUM(c.o) OVER (PARTITION BY c.lang) AS rl,
             SUM(c.o) OVER (PARTITION BY c.source) AS cs
      FROM cells c
    ),
    terms AS (
      SELECT lang, source,
             POWER(o - rl * cs / (1.0 * tot.n), 2)
               / (rl * cs / (1.0 * tot.n)) AS term,
             (SELECT COUNT(DISTINCT lang) FROM cells) AS n_langs,
             (SELECT COUNT(DISTINCT source) FROM cells) AS n_sources
      FROM marg, tot
    )
    SELECT
      CAST(MAX(n_langs) AS BIGINT) AS n_langs,
      CAST(MAX(n_sources) AS BIGINT) AS n_sources,
      CAST((MAX(n_langs) - 1) * (MAX(n_sources) - 1) AS BIGINT) AS dof,
      ROUND(list_reduce(list_prepend(0.0::DOUBLE,
              LIST(term ORDER BY lang, source)), (a, b) -> a + b),
            4) AS chi2
    FROM terms
    """,
)
def stats_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence on the documents lang × source
    contingency table — 'is the language mix the same across sources',
    the categorical sibling of [[monitor_chisq_type_drift]] (which
    compares two cohorts of one variable).

    Exactness: observed counts and both marginals are exact integers
    (window sums over the cell table); the per-cell (O−E)²/E terms are
    doubles folded in pinned (lang, source) order on BOTH engines
    (array_sort + sequential fold vs LIST(... ORDER BY) + list_reduce),
    rounded 4. Plan: one groupBy over the corpus, then windows over the
    ~|langs×sources| cell frame — model moves, not data.
    """
    cells = (
        read_table(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    wl = Window.partitionBy("lang")
    ws = Window.partitionBy("source")
    marg = cells.select(
        "lang",
        "source",
        "o",
        F.sum("o").over(wl).alias("rl"),
        F.sum("o").over(ws).alias("cs"),
    )
    tot = cells.agg(
        F.sum("o").alias("n"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
    )
    e = F.col("rl") * F.col("cs") / (1.0 * F.col("n"))
    terms = marg.crossJoin(F.broadcast(tot)).select(
        "n_langs",
        "n_sources",
        F.struct("lang", "source").alias("k"),
        (F.pow(F.col("o") - e, 2) / e).alias("term"),
    )
    folded = F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("k"), F.col("term")))),
            lambda s: s["term"],
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return terms.groupBy().agg(
        F.max("n_langs").cast("long").alias("n_langs"),
        F.max("n_sources").cast("long").alias("n_sources"),
        ((F.max("n_langs") - 1) * (F.max("n_sources") - 1))
        .cast("long")
        .alias("dof"),
        F.round(folded, 4).alias("chi2"),
    )


@query(
    "stats_cohens_kappa",
    """
    WITH rated AS (
      SELECT (lang = 'en') AS a, (n_chars > 300) AS b FROM documents
    ),
    c AS (
      SELECT COUNT(*) AS n,
             COUNT(*) FILTER (WHERE a AND b) AS yy,
             COUNT(*) FILTER (WHERE a AND NOT b) AS yn,
             COUNT(*) FILTER (WHERE NOT a AND b) AS ny,
             COUNT(*) FILTER (WHERE NOT a AND NOT b) AS nn
      FROM rated
    )
    SELECT n, yy, yn, ny, nn,
           ROUND((yy + nn) / (1.0 * n), 6) AS p_observed,
           ROUND(((yy + yn) * (yy + ny) + (ny + nn) * (yn + nn))
                 / (1.0 * n * n), 6) AS p_expected,
           ROUND(((yy + nn) / (1.0 * n)
                  - ((yy + yn) * (yy + ny) + (ny + nn) * (yn + nn))
                    / (1.0 * n * n))
                 / (1 - ((yy + yn) * (yy + ny) + (ny + nn) * (yn + nn))
                        / (1.0 * n * n)), 6) AS kappa
    FROM c
    """,
)
def stats_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa agreement between two binary document annotators
    (the language gate lang='en' vs the length gate n_chars>300) —
    the standard chance-corrected agreement score for LLM-data labeling
    pipelines (two heuristic raters, or a heuristic vs an LLM judge).

    Exactness: the whole statistic is a fixed expression tree on FIVE
    exact integers (the 2×2 confusion counts + n), rounded 6. Plan: one
    map-side-combinable conditional aggregate over one scan.
    """
    d = read_table(spark, sf_dir, "documents").select(
        (F.col("lang") == "en").alias("a"), (F.col("n_chars") > 300).alias("b")
    )
    c = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("a") & F.col("b"), 1).otherwise(0)).alias("yy"),
        F.sum(F.when(F.col("a") & ~F.col("b"), 1).otherwise(0)).alias("yn"),
        F.sum(F.when(~F.col("a") & F.col("b"), 1).otherwise(0)).alias("ny"),
        F.sum(F.when(~F.col("a") & ~F.col("b"), 1).otherwise(0)).alias("nn"),
    )
    n = F.col("n") * 1.0
    po = (F.col("yy") + F.col("nn")) / n
    pe = (
        (F.col("yy") + F.col("yn")) * (F.col("yy") + F.col("ny"))
        + (F.col("ny") + F.col("nn")) * (F.col("yn") + F.col("nn"))
    ) / (n * n)
    return c.select(
        "n", "yy", "yn", "ny", "nn",
        F.round(po, 6).alias("p_observed"),
        F.round(pe, 6).alias("p_expected"),
        F.round((po - pe) / (1 - pe), 6).alias("kappa"),
    )


@query(
    "stats_hhi_concentration",
    """
    WITH rev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS nation_rev
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n ON c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY r.r_name, n.n_name
    ),
    shares AS (
      SELECT region, nation, nation_rev,
             CAST(nation_rev AS DOUBLE)
               / CAST(SUM(nation_rev) OVER (PARTITION BY region) AS DOUBLE)
               AS share
      FROM rev
    )
    SELECT region,
           COUNT(*) AS n_nations,
           ROUND(list_reduce(list_prepend(0.0::DOUBLE,
                   LIST(share * share ORDER BY nation)), (a, b) -> a + b),
                 6) AS hhi,
           ROUND(MAX(share), 6) AS top_share
    FROM shares GROUP BY region ORDER BY region
    """,
)
def stats_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration of order revenue across
    nations within each region — 'is one market eating the region', the
    one-number skew descriptor procurement/antitrust dashboards publish
    (and the revenue-side sibling of [[diag_key_skew_profile]]'s row
    skew).

    Exactness: nation revenues are exact DECIMAL sums; shares divide
    them inside one region partition; the Σ share² fold is pinned in
    nation order on both engines, rounded 6. Plan: one star join +
    groupBy (the flagship's shape), then windows over the ≤25-row
    (region, nation) frame.
    """
    od = read_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cu = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    na = read_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    re = read_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    rev = (
        od.join(cu, od["o_custkey"] == cu["c_custkey"])
        .join(F.broadcast(na), cu["c_nationkey"] == na["n_nationkey"])
        .join(F.broadcast(re), na["n_regionkey"] == re["r_regionkey"])
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("nation_rev"))
    )
    wr = Window.partitionBy("region")
    shares = rev.select(
        "region",
        "nation",
        (
            F.col("nation_rev").cast("double")
            / F.sum("nation_rev").over(wr).cast("double")
        ).alias("share"),
    )
    folded = F.aggregate(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("nation"), (F.col("share") * F.col("share")).alias("s2")))
            ),
            lambda s: s["s2"],
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        shares.groupBy("region")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.round(folded, 6).alias("hhi"),
            F.round(F.max("share"), 6).alias("top_share"),
        )
        .orderBy("region")
    )


def _nation_fulfilled_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(nation, n, pos): orders per customer nation and how many of them
    are fulfilled (status 'F') — exact integer counts from one join +
    groupBy over the corpus."""
    od = read_table(spark, sf_dir, "orders").select("o_custkey", "o_orderstatus")
    cu = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    na = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        od.join(cu, od["o_custkey"] == cu["c_custkey"])
        .join(F.broadcast(na), cu["c_nationkey"] == na["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("pos"),
        )
    )


@query(
    "stats_eb_shrinkage",
    """
    WITH g AS (
      SELECT n.n_name AS nation,
             COUNT(*) AS n,
             COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS pos
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n ON c_nationkey = n.n_nationkey
      GROUP BY n.n_name
    ),
    mom AS (
      SELECT
        (SELECT SUM(pos) / (1.0 * SUM(n)) FROM g) AS m,
        list_reduce(list_prepend(0.0::DOUBLE,
          (SELECT LIST(POWER(pos / (1.0 * n)
                 - (SELECT SUM(pos) / (1.0 * SUM(n)) FROM g), 2)
            ORDER BY nation) FROM g)), (a, b) -> a + b)
          / ((SELECT COUNT(*) FROM g) - 1) AS v
    ),
    k AS (
      SELECT m, v,
             GREATEST(m * (1 - m) / NULLIF(v, 0) - 1, 0.0) AS prior_n
      FROM mom
    )
    SELECT nation, n, pos,
           ROUND(pos / (1.0 * n), 6) AS raw_rate,
           ROUND((pos + k.prior_n * k.m) / (n + k.prior_n), 6) AS shrunk_rate
    FROM g, k
    ORDER BY shrunk_rate DESC, nation
    """,
)
def stats_eb_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes (beta-binomial, method-of-moments) shrinkage of
    per-nation order-fulfillment rates toward the grand mean — the
    standard fix for 'small groups top every leaderboard': the prior
    strength k = m(1−m)/v − 1 comes from the observed between-group
    variance, so noisy small-n groups shrink hard and large-n groups
    barely move.

    Exactness: group counts are exact integers; the between-group
    variance folds the ≤25 squared deviations in pinned nation order on
    both engines; raw/shrunk rates are fixed expression trees rounded 6.
    Plan: one join + groupBy over the corpus; everything after is the
    25-row nation frame against a broadcast 1-row prior.
    """
    g = _nation_fulfilled_counts(spark, sf_dir)
    tot = g.agg(
        (F.sum("pos") / (1.0 * F.sum("n"))).alias("m"),
        F.count(F.lit(1)).alias("n_groups"),
    )
    dev = g.crossJoin(F.broadcast(tot)).select(
        "nation",
        F.pow(F.col("pos") / (1.0 * F.col("n")) - F.col("m"), 2).alias("d2"),
        "m",
        "n_groups",
    )
    folded = F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("nation"), F.col("d2")))),
            lambda s: s["d2"],
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    prior = dev.groupBy().agg(
        F.max("m").alias("m"),
        (folded / (F.max("n_groups") - 1)).alias("v"),
    ).select(
        "m",
        "v",
        F.greatest(
            F.col("m") * (1 - F.col("m")) / F.nullif(F.col("v"), F.lit(0.0)) - 1,
            F.lit(0.0),
        ).alias("prior_n"),
    )
    return (
        g.crossJoin(F.broadcast(prior))
        .select(
            "nation",
            "n",
            "pos",
            F.round(F.col("pos") / (1.0 * F.col("n")), 6).alias("raw_rate"),
            F.round(
                (F.col("pos") + F.col("prior_n") * F.col("m"))
                / (F.col("n") + F.col("prior_n")),
                6,
            ).alias("shrunk_rate"),
        )
        .orderBy(F.desc("shrunk_rate"), "nation")
    )


@query(
    "stats_jackknife_loo_rate",
    """
    WITH g AS (
      SELECT n.n_name AS nation,
             COUNT(*) AS n,
             COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS pos
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n ON c_nationkey = n.n_nationkey
      GROUP BY n.n_name
    ),
    tot AS (SELECT SUM(n) AS nn, SUM(pos) AS pp, COUNT(*) AS gg FROM g),
    loo AS (
      SELECT nation, (pp - pos) / (1.0 * (nn - n)) AS est, gg, nn, pp FROM g, tot
    ),
    mean_loo AS (
      SELECT list_reduce(list_prepend(0.0::DOUBLE, (SELECT LIST(est ORDER BY nation) FROM loo)),
               (a, b) -> a + b) / MAX(gg) AS ml,
             MAX(gg) AS gg, MAX(nn) AS nn, MAX(pp) AS pp
      FROM loo
    )
    SELECT CAST(gg AS BIGINT) AS n_groups,
           ROUND(pp / (1.0 * nn), 6) AS full_rate,
           ROUND(ml, 6) AS jackknife_mean,
           ROUND(SQRT((gg - 1.0) / gg
                 * list_reduce(list_prepend(0.0::DOUBLE,
                     (SELECT LIST(POWER(est - ml, 2) ORDER BY nation) FROM loo, mean_loo)),
                     (a, b) -> a + b)), 6) AS jackknife_se
    FROM mean_loo
    """,
)
def stats_jackknife_loo_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-GROUP jackknife standard error of the global order
    fulfillment rate (groups = nations) — the resampling-free uncertainty
    estimate for cluster-correlated data, complementing
    [[stats_bootstrap_poisson]] (row-level resamples) and
    [[curation_loo_source_influence]] (the same leave-one-out algebra as
    an influence probe).

    Exactness: each leave-one-out estimate is (P−pos_i)/(N−n_i) on exact
    integers — the corpus is scanned ONCE; the 25 estimates fold in
    pinned nation order on both engines, rounded 6. Plan: join + groupBy,
    then pure algebra on the 25-row frame (never G re-aggregations).
    """
    g = _nation_fulfilled_counts(spark, sf_dir)
    tot = g.agg(
        F.sum("n").alias("nn"), F.sum("pos").alias("pp"), F.count(F.lit(1)).alias("gg")
    )
    loo = g.crossJoin(F.broadcast(tot)).select(
        "nation",
        ((F.col("pp") - F.col("pos")) / (1.0 * (F.col("nn") - F.col("n")))).alias("est"),
        "gg", "nn", "pp",
    )

    def fold(col):
        return F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("nation"), col.alias("v")))),
                lambda s: s["v"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    m1 = loo.groupBy().agg(
        (fold(F.col("est")) / F.max("gg")).alias("ml"),
        F.max("gg").alias("gg"), F.max("nn").alias("nn"), F.max("pp").alias("pp"),
    )
    dev = loo.crossJoin(F.broadcast(m1.select("ml"))).select(
        "nation", F.pow(F.col("est") - F.col("ml"), 2).alias("d2"), "gg"
    )
    ss = dev.groupBy().agg(fold(F.col("d2")).alias("ss"), F.max("gg").alias("gg2"))
    return (
        m1.crossJoin(F.broadcast(ss))
        .select(
            F.col("gg").cast("long").alias("n_groups"),
            F.round(F.col("pp") / (1.0 * F.col("nn")), 6).alias("full_rate"),
            F.round(F.col("ml"), 6).alias("jackknife_mean"),
            F.round(
                F.sqrt((F.col("gg") - 1.0) / F.col("gg") * F.col("ss")), 6
            ).alias("jackknife_se"),
        )
    )


_PH_DELTA = 5.0  # Page-Hinkley drift allowance (daily-count units)


@query(
    "stats_page_hinkley_alarm",
    f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, COUNT(*) AS x FROM events GROUP BY d
    ),
    run AS (
      SELECT d, x,
             SUM(x) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS sj,
             ROW_NUMBER() OVER (ORDER BY d) AS j
      FROM daily
    ),
    tq AS (
      -- quantize each deviation term to exact 1e-6 longs BEFORE the
      -- cumulative sums, so every fold below is order-free integer math
      SELECT d, x,
             CAST(ROUND((x - sj / (1.0 * j) - {_PH_DELTA}) * 1000000)
                  AS BIGINT) AS t
      FROM run
    ),
    ph AS (
      SELECT d, x,
             SUM(t) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS mt
      FROM tq
    ),
    stat AS (
      SELECT d, x, mt,
             mt - MIN(mt) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS ph_stat
      FROM ph
    )
    SELECT d AS day, x AS daily_count, ROUND(mt / 1000000.0, 4) AS mt,
           ROUND(ph_stat / 1000000.0, 4) AS ph_stat
    FROM stat ORDER BY ph_stat DESC, day LIMIT 5
    """,
)
def stats_page_hinkley_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page–Hinkley change detection on the daily event-count series —
    the classic sequential upward-drift alarm (the statistic m_t − min m_s
    crosses λ): a streaming-friendly complement to
    [[ts_changepoint_single_split]] (retrospective) and
    [[ts_cusum_drift]] (known-mean CUSUM; PH tracks the RUNNING mean, so
    it needs no baseline calibration). Emits the 5 highest-alarm days.

    Exactness: daily counts are integers, so each running mean is an
    exact rational (Σx/j); the per-day deviation terms are quantized to
    1e-6 longs BEFORE any cumulative sum, making the mt and running-min
    folds order-free integer arithmetic in both engines. Plan: one
    groupBy to days, then the ~90-row day frame collapses to ONE sorted
    array and the prefix statistics are per-element array folds — no
    unpartitioned window anywhere (the house rule: a global ordered
    window is a single-partition sort even when the frame is small).
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
    add = lambda acc, v: acc + v  # noqa: E731
    zero = F.lit(0).cast("long")
    prefix_sum = lambda a, i: F.aggregate(F.slice(a, 1, i), zero, add)  # noqa: E731
    stat = (
        arr.withColumn("xs", xs)
        .withColumn("idx", asc_seq(F.lit(1), F.size("xs")))
        .withColumn(
            "tq",
            F.transform(
                F.col("idx"),
                lambda j: F.round(
                    (
                        F.element_at(F.col("xs"), j).cast("double")
                        - prefix_sum(F.col("xs"), j).cast("double")
                        / j.cast("double")
                        - _PH_DELTA
                    )
                    * 1_000_000
                ).cast("long"),
            ),
        )
        .withColumn(
            "mt", F.transform(F.col("idx"), lambda i: prefix_sum(F.col("tq"), i))
        )
        .withColumn(
            "ph",
            F.transform(
                F.col("idx"),
                lambda i: F.element_at(F.col("mt"), i)
                - F.array_min(F.slice(F.col("mt"), 1, i)),
            ),
        )
        .select(F.posexplode(F.arrays_zip("s", "mt", "ph")).alias("pos", "z"))
    )
    return (
        stat.select(
            F.col("z.s.d").alias("day"),
            F.col("z.s.x").alias("daily_count"),
            F.round(F.col("z.mt") / 1_000_000.0, 4).alias("mt"),
            F.round(F.col("z.ph") / 1_000_000.0, 4).alias("ph_stat"),
        )
        .orderBy(F.desc("ph_stat"), "day")
        .limit(5)
    )


@query(
    "stats_negbin_overdispersion",
    """
    WITH per_user AS (
      SELECT user_id, COUNT(*) AS c FROM events GROUP BY user_id
    ),
    mom AS (
      SELECT COUNT(*) AS g, SUM(c) AS s1, SUM(c * c) AS s2 FROM per_user
    )
    SELECT g AS n_users,
           ROUND(s1 / (1.0 * g), 4) AS mean_count,
           ROUND((s2 - s1 / (1.0 * g) * s1) / (g - 1.0), 4) AS var_count,
           ROUND(((s2 - s1 / (1.0 * g) * s1) / (g - 1.0))
                 / (s1 / (1.0 * g)), 4) AS dispersion_index,
           ROUND(POWER(s1 / (1.0 * g), 2)
                 / NULLIF((s2 - s1 / (1.0 * g) * s1) / (g - 1.0)
                          - s1 / (1.0 * g), 0), 4) AS nb_r,
           ROUND((s1 / (1.0 * g))
                 / NULLIF((s2 - s1 / (1.0 * g) * s1) / (g - 1.0), 0), 4) AS nb_p
    FROM mom
    """,
)
def stats_negbin_overdispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-binomial overdispersion fit for per-user event counts
    (method of moments): dispersion index Var/Mean (1 = Poisson, the
    [[events_interarrival_exp_fit]] null; ≫1 = bursty users), and the
    NB(r, p) parameters — the capacity-planning prior for per-key state
    sizing that [[events_hill_tail_index]] bounds at the extreme tail.

    Exactness: the user-count moments (g, Σc, Σc²) are exact integers
    from one map-side-combinable groupBy; every output is a fixed
    expression tree on those three numbers, rounded 4 (NULLIF guards the
    equidispersed degenerate case). Plan: one groupBy + one 1-row
    aggregate.
    """
    per_user = (
        read_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    mom = per_user.agg(
        F.count(F.lit(1)).alias("g"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    g = F.col("g") * 1.0
    mean = F.col("s1") / g
    var = (F.col("s2") - mean * F.col("s1")) / (F.col("g") - 1.0)
    return mom.select(
        F.col("g").alias("n_users"),
        F.round(mean, 4).alias("mean_count"),
        F.round(var, 4).alias("var_count"),
        F.round(var / mean, 4).alias("dispersion_index"),
        F.round(
            F.pow(mean, 2) / F.nullif(var - mean, F.lit(0.0)), 4
        ).alias("nb_r"),
        F.round(mean / F.nullif(var, F.lit(0.0)), 4).alias("nb_p"),
    )


_TOST_MARGIN = 0.5  # equivalence margin on mean event value (dollars)


@query(
    "stats_tost_equivalence",
    f"""
    WITH g AS (
      SELECT event_type,
             COUNT(*) AS n,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS s1,
             SUM(CAST(ROUND(value * 100) AS BIGINT)
                 * CAST(ROUND(value * 100) AS BIGINT)) AS s2
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY event_type
    ),
    w AS (
      SELECT
        MAX(CASE WHEN event_type = 'click' THEN n END) AS n1,
        MAX(CASE WHEN event_type = 'view' THEN n END) AS n2,
        MAX(CASE WHEN event_type = 'click' THEN s1 END) AS a1,
        MAX(CASE WHEN event_type = 'view' THEN s1 END) AS b1,
        MAX(CASE WHEN event_type = 'click' THEN s2 END) AS a2,
        MAX(CASE WHEN event_type = 'view' THEN s2 END) AS b2
      FROM g
    ),
    t AS (
      SELECT n1, n2,
             (a1 / 100.0) / n1 - (b1 / 100.0) / n2 AS diff,
             SQRT(((a2 / 10000.0) - (a1 / 100.0) * (a1 / 100.0) / n1)
                    / (n1 - 1) / n1
                + ((b2 / 10000.0) - (b1 / 100.0) * (b1 / 100.0) / n2)
                    / (n2 - 1) / n2) AS se
      FROM w
    )
    SELECT n1, n2,
           ROUND(diff, 4) AS mean_diff,
           ROUND((diff + {_TOST_MARGIN}) / se, 4) AS t_lower,
           ROUND((diff - {_TOST_MARGIN}) / se, 4) AS t_upper,
           (diff + {_TOST_MARGIN}) / se > 1.6449
             AND (diff - {_TOST_MARGIN}) / se < -1.6449 AS equivalent_90
    FROM t
    """,
)
def stats_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST equivalence test (two one-sided tests) on mean event value,
    click vs view, margin ±{_TOST_MARGIN}: the procedure that can
    actually CONCLUDE 'no meaningful difference' — a non-significant
    [[stats_welch_ttest]] cannot. Both one-sided stats must clear the
    z_0.95 = 1.6449 boundary (large-n normal approximation, the same
    convention as [[stats_sprt_boundary]]).

    Exactness: identical integer-cents moments as the Welch test (one
    shared groupBy shape); both t-ratios and the boolean verdict are
    fixed expression trees, rounded 4. Plan: one map-side-combinable
    groupBy + a 2-row pivot.
    """
    w = _click_view_cents_moments(spark, sf_dir)
    n1, n2 = F.col("n1"), F.col("n2")
    diff = (F.col("a1") / 100.0) / n1 - (F.col("b1") / 100.0) / n2
    se = F.sqrt(
        ((F.col("a2") / 10000.0) - (F.col("a1") / 100.0) * (F.col("a1") / 100.0) / n1)
        / (n1 - 1) / n1
        + ((F.col("b2") / 10000.0) - (F.col("b1") / 100.0) * (F.col("b1") / 100.0) / n2)
        / (n2 - 1) / n2
    )
    tl = (diff + _TOST_MARGIN) / se
    tu = (diff - _TOST_MARGIN) / se
    return w.select(
        "n1", "n2",
        F.round(diff, 4).alias("mean_diff"),
        F.round(tl, 4).alias("t_lower"),
        F.round(tu, 4).alias("t_upper"),
        ((tl > 1.6449) & (tu < -1.6449)).alias("equivalent_90"),
    )


@query(
    "stats_kendall_tau_monthly",
    """
    WITH m AS (
      SELECT DATE_TRUNC('month', o_orderdate) AS mon,
             COUNT(*) AS n_orders,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY mon
    ),
    pairs AS (
      SELECT SIGN((b.n_orders - a.n_orders) * 1.0) AS sx,
             SIGN(CAST(b.rev - a.rev AS DOUBLE)) AS sy
      FROM m a JOIN m b ON a.mon < b.mon
    ),
    c AS (
      SELECT COUNT(*) AS n_pairs,
             COUNT(*) FILTER (WHERE sx * sy > 0) AS concordant,
             COUNT(*) FILTER (WHERE sx * sy < 0) AS discordant,
             COUNT(*) FILTER (WHERE sx = 0) AS ties_x,
             COUNT(*) FILTER (WHERE sy = 0) AS ties_y
      FROM pairs
    )
    SELECT n_pairs, concordant, discordant,
           ROUND((concordant - discordant)
                 / (SQRT(n_pairs - ties_x) * SQRT(n_pairs - ties_y)), 6)
             AS kendall_tau_b
    FROM c
    """,
)
def stats_kendall_tau_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall τ-b rank correlation between monthly order volume and
    monthly revenue — the concordance-based alternative to
    [[stats_spearman_corr]] (more robust to a few wild months, the
    standard trend-agreement score for small series).

    Plan: the corpus collapses to the ~80-row MONTH frame first (one
    groupBy); the pairwise comparison is a self-join on that model-sized
    frame (~3k pairs — same bounded-cartesian contract as
    [[stats_theil_sen_trend]], whitelisted with justification). Counts
    are exact integers; τ-b is one expression on five integers, rounded
    6.
    """
    m = (
        read_table(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("mon"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"),
        )
    )
    a = m.select(
        F.col("mon").alias("mon_a"),
        F.col("n_orders").alias("xa"),
        F.col("rev").alias("ya"),
    )
    b = m.select(
        F.col("mon").alias("mon_b"),
        F.col("n_orders").alias("xb"),
        F.col("rev").alias("yb"),
    )
    pairs = a.join(b, F.col("mon_a") < F.col("mon_b")).select(
        F.signum((F.col("xb") - F.col("xa")) * 1.0).alias("sx"),
        F.signum((F.col("yb") - F.col("ya")).cast("double")).alias("sy"),
    )
    c = pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when(F.col("sx") * F.col("sy") > 0, 1).otherwise(0)).alias(
            "concordant"
        ),
        F.sum(F.when(F.col("sx") * F.col("sy") < 0, 1).otherwise(0)).alias(
            "discordant"
        ),
        F.sum(F.when(F.col("sx") == 0, 1).otherwise(0)).alias("ties_x"),
        F.sum(F.when(F.col("sy") == 0, 1).otherwise(0)).alias("ties_y"),
    )
    return c.select(
        "n_pairs", "concordant", "discordant",
        F.round(
            (F.col("concordant") - F.col("discordant"))
            / (
                F.sqrt(F.col("n_pairs") - F.col("ties_x"))
                * F.sqrt(F.col("n_pairs") - F.col("ties_y"))
            ),
            6,
        ).alias("kendall_tau_b"),
    )


@query(
    "monitor_order_total_reconciliation",
    """
    WITH li AS (
      SELECT l_orderkey,
             SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                            * 100) AS BIGINT)) AS computed_cents
      FROM lineitem GROUP BY l_orderkey
    ),
    rec AS (
      SELECT o.o_orderstatus AS order_status,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS stated_cents,
             li.computed_cents
      FROM orders o JOIN li ON o.o_orderkey = li.l_orderkey
    )
    SELECT order_status,
           COUNT(*) AS n_orders,
           COUNT(*) FILTER (WHERE stated_cents = computed_cents)
             AS n_exact_match,
           ROUND(SUM(ABS(stated_cents - computed_cents))
                 / (100.0 * COUNT(*)), 2) AS mean_abs_diff,
           ROUND(MAX(ABS(stated_cents - computed_cents)) / 100.0, 2)
             AS max_abs_diff
    FROM rec GROUP BY order_status ORDER BY order_status
    """,
)
def monitor_order_total_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-to-derived reconciliation: per order status, compare each
    order's STATED total against the total COMPUTED from its line items
    (Σ extprice·(1−disc)·(1+tax)) — the finance-pipeline sanity check
    that catches silent drops/duplications a row-count audit
    ([[monitor_fk_integrity_audit]]) cannot (counts match while values
    drift). On this synthetic corpus the columns are generated
    independently, so the report quantifies the expected disagreement —
    the operator's value is the CONTRACT, exercised end to end.

    Exactness: every money value is quantized to integer cents per row
    before any aggregate (the house money protocol), so sums, the match
    predicate and the max are exact; the two divisions happen once per
    status row, rounded 2. Plan: one map-side-combinable per-order
    groupBy, one join on the order key, one |status|-row aggregate.
    """
    li = (
        read_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                    * 100
                ).cast("long")
            ).alias("computed_cents")
        )
    )
    od = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderstatus").alias("order_status"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("stated_cents"),
    )
    rec = od.join(li, od["o_orderkey"] == li["l_orderkey"])
    diff = F.abs(F.col("stated_cents") - F.col("computed_cents"))
    return (
        rec.groupBy("order_status")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.when(F.col("stated_cents") == F.col("computed_cents"), 1).otherwise(0)
            ).alias("n_exact_match"),
            F.round(F.sum(diff) / (100.0 * F.count(F.lit(1))), 2).alias(
                "mean_abs_diff"
            ),
            F.round(F.max(diff) / 100.0, 2).alias("max_abs_diff"),
        )
        .orderBy("order_status")
    )


_PERM_B = 200  # deterministic permutation replicates


@query(
    "stats_permutation_test",
    f"""
    WITH ev AS (
      SELECT event_id, event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type IN ('click', 'view')
    ),
    obs AS (
      SELECT SUM(CASE WHEN event_type = 'click' THEN cents END)
               / (1.0 * COUNT(*) FILTER (WHERE event_type = 'click'))
           - SUM(CASE WHEN event_type = 'view' THEN cents END)
               / (1.0 * COUNT(*) FILTER (WHERE event_type = 'view'))
             AS d_obs
      FROM ev
    ),
    reps AS (
      SELECT b.b, ev.cents,
             (('0x' || SUBSTRING(md5(ev.event_id || '_' || b.b), 1, 7))::BIGINT
              % 2 = 0) AS grp
      FROM ev CROSS JOIN (SELECT UNNEST(range(0, {_PERM_B})) AS b) b
    ),
    dist AS (
      SELECT b,
             SUM(CASE WHEN grp THEN cents END)
               / (1.0 * COUNT(*) FILTER (WHERE grp))
           - SUM(CASE WHEN NOT grp THEN cents END)
               / (1.0 * COUNT(*) FILTER (WHERE NOT grp)) AS d
      FROM reps GROUP BY b
    )
    SELECT CAST({_PERM_B} AS BIGINT) AS n_permutations,
           ROUND(obs.d_obs / 100.0, 4) AS observed_diff,
           CAST(COUNT(*) FILTER (WHERE ABS(dist.d) >= ABS(obs.d_obs))
                AS BIGINT) AS n_as_extreme,
           ROUND((COUNT(*) FILTER (WHERE ABS(dist.d) >= ABS(obs.d_obs)) + 1)
                 / ({_PERM_B} + 1.0), 4) AS p_value
    FROM dist, obs GROUP BY obs.d_obs
    """,
)
def stats_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation test of the click-vs-view mean value difference with
    {_PERM_B} DETERMINISTIC relabelings: replicate b reassigns each row
    by the house content-hash PRF md5(event_id ‖ b) — a pure function of
    the data, so the null distribution is engine/rerun/cluster
    invariant. The assumption-free sibling of [[stats_welch_ttest]]
    (no normality, no variance model), with the +1 small-sample p-value
    correction.

    Exactness: values quantized to integer cents, so every per-replicate
    group sum is exact; each replicate difference is a fixed expression
    on four integers; the as-extreme count is integer. Plan: ONE
    broadcast fan-out of the scan over the replicate ids (narrow rows:
    b, cents, grp), one map-side-combinable (b) groupBy — never B
    rescans of the corpus.
    """
    from databricks_end_to_end_lakeflow_project_spark.operators.sampling import (
        hash_hex,
    )

    ev = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view"))
        .select(
            "event_id", "event_type",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    obs = ev.agg(
        (
            F.sum(F.when(F.col("event_type") == "click", F.col("cents")))
            / (1.0 * F.count(F.when(F.col("event_type") == "click", 1)))
            - F.sum(F.when(F.col("event_type") == "view", F.col("cents")))
            / (1.0 * F.count(F.when(F.col("event_type") == "view", 1)))
        ).alias("d_obs")
    )
    reps = spark.range(_PERM_B).select(F.col("id").cast("int").alias("b"))
    grp = (
        F.conv(
            hash_hex(F.concat(F.col("event_id"), F.lit("_"), F.col("b")), 7), 16, 10
        ).cast("long")
        % 2
        == 0
    )
    dist = (
        ev.crossJoin(F.broadcast(reps))
        .select("b", "cents", grp.alias("grp"))
        .groupBy("b")
        .agg(
            (
                F.sum(F.when(F.col("grp"), F.col("cents")))
                / (1.0 * F.count(F.when(F.col("grp"), 1)))
                - F.sum(F.when(~F.col("grp"), F.col("cents")))
                / (1.0 * F.count(F.when(~F.col("grp"), 1)))
            ).alias("d")
        )
    )
    return (
        dist.crossJoin(F.broadcast(obs))
        .groupBy("d_obs")
        .agg(
            F.lit(_PERM_B).cast("long").alias("n_permutations"),
            F.sum(
                F.when(F.abs(F.col("d")) >= F.abs(F.col("d_obs")), 1).otherwise(0)
            ).alias("n_as_extreme"),
        )
        .select(
            "n_permutations",
            F.round(F.col("d_obs") / 100.0, 4).alias("observed_diff"),
            F.col("n_as_extreme").cast("long").alias("n_as_extreme"),
            F.round((F.col("n_as_extreme") + 1) / (_PERM_B + 1.0), 4).alias(
                "p_value"
            ),
        )
    )


@query(
    "stats_cronbach_alpha",
    """
    WITH mat AS (
      SELECT user_id,
             COUNT(*) FILTER (WHERE event_type = 'click') AS i_click,
             COUNT(*) FILTER (WHERE event_type = 'view') AS i_view,
             COUNT(*) FILTER (WHERE event_type = 'purchase') AS i_purchase,
             COUNT(*) FILTER (WHERE event_type = 'signup') AS i_signup,
             COUNT(*) FILTER (WHERE event_type = 'error') AS i_error
      FROM events GROUP BY user_id
    ),
    mom AS (
      SELECT COUNT(*) AS n,
             SUM(i_click) AS s_c, SUM(i_click * i_click) AS q_c,
             SUM(i_view) AS s_v, SUM(i_view * i_view) AS q_v,
             SUM(i_purchase) AS s_p, SUM(i_purchase * i_purchase) AS q_p,
             SUM(i_signup) AS s_s, SUM(i_signup * i_signup) AS q_s,
             SUM(i_error) AS s_e, SUM(i_error * i_error) AS q_e,
             SUM(i_click + i_view + i_purchase + i_signup + i_error) AS s_t,
             SUM(POWER(i_click + i_view + i_purchase + i_signup + i_error, 2))
               AS q_t
      FROM mat
    )
    SELECT n AS n_users, 5 AS k_items,
           ROUND(((q_c - s_c / (1.0 * n) * s_c)
                + (q_v - s_v / (1.0 * n) * s_v)
                + (q_p - s_p / (1.0 * n) * s_p)
                + (q_s - s_s / (1.0 * n) * s_s)
                + (q_e - s_e / (1.0 * n) * s_e)) / (n - 1.0), 4)
             AS sum_item_var,
           ROUND((q_t - s_t / (1.0 * n) * s_t) / (n - 1.0), 4) AS total_var,
           ROUND((5 / 4.0) * (1 - ((q_c - s_c / (1.0 * n) * s_c)
                + (q_v - s_v / (1.0 * n) * s_v)
                + (q_p - s_p / (1.0 * n) * s_p)
                + (q_s - s_s / (1.0 * n) * s_s)
                + (q_e - s_e / (1.0 * n) * s_e))
                / (q_t - s_t / (1.0 * n) * s_t)), 4) AS cronbach_alpha
    FROM mom
    """,
)
def stats_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's α internal-consistency of the 5 per-user activity
    'items' (counts of each event type): α = k/(k−1)·(1 − Σσ²ᵢ/σ²ₜ) —
    do the five engagement signals measure one underlying trait, the
    scale-reliability gate before combining them into a single
    engagement score ([[rfm_customer_segments]] combines blindly; this
    measures whether combining is justified).

    Exactness: the user×item count matrix and every raw moment (Σx, Σx²
    per item and for the row total) are exact integers from ONE pivoted
    groupBy; α is a fixed expression tree on those 13 integers, rounded
    4. Plan: one map-side-combinable groupBy + a 1-row aggregate — the
    corpus is scanned once.
    """
    ev = read_table(spark, sf_dir, "events").select("user_id", "event_type")
    items = ["click", "view", "purchase", "signup", "error"]
    mat = ev.groupBy("user_id").agg(
        *[
            F.sum(F.when(F.col("event_type") == it, 1).otherwise(0)).alias(f"i_{it}")
            for it in items
        ]
    )
    tot = sum((F.col(f"i_{it}") for it in items[1:]), F.col(f"i_{items[0]}"))
    aggs = [F.count(F.lit(1)).alias("n")]
    for it in items:
        c = F.col(f"i_{it}")
        aggs += [F.sum(c).alias(f"s_{it}"), F.sum(c * c).alias(f"q_{it}")]
    aggs += [F.sum(tot).alias("s_t"), F.sum(tot * tot).alias("q_t")]
    mom = mat.agg(*aggs)
    n = F.col("n") * 1.0

    def var(s, q):
        return (F.col(q) - F.col(s) / n * F.col(s)) / (F.col("n") - 1.0)

    item_var = None
    for it in items:
        v = var(f"s_{it}", f"q_{it}")
        item_var = v if item_var is None else item_var + v
    total_var = var("s_t", "q_t")
    return mom.select(
        F.col("n").alias("n_users"),
        F.lit(5).alias("k_items"),
        F.round(item_var, 4).alias("sum_item_var"),
        F.round(total_var, 4).alias("total_var"),
        F.round((5 / 4.0) * (1 - item_var / total_var), 4).alias("cronbach_alpha"),
    )


@query(
    "stats_gumbel_block_maxima",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, COUNT(*) AS x FROM events GROUP BY d
    ),
    weekly AS (
      SELECT DATE_TRUNC('week', d) AS wk, MAX(x) AS mx
      FROM daily GROUP BY wk
    ),
    mom AS (
      SELECT COUNT(*) AS n, SUM(mx) AS s1, SUM(mx * mx) AS s2 FROM weekly
    ),
    fit AS (
      SELECT n,
             SQRT((s2 - s1 / (1.0 * n) * s1) / (n - 1.0))
               * SQRT(6.0) / PI() AS beta,
             s1 / (1.0 * n)
               - 0.5772156649015329
               * SQRT((s2 - s1 / (1.0 * n) * s1) / (n - 1.0))
               * SQRT(6.0) / PI() AS mu
      FROM mom
    )
    SELECT CAST(n AS BIGINT) AS n_weeks,
           ROUND(mu, 4) AS gumbel_mu,
           ROUND(beta, 4) AS gumbel_beta,
           ROUND(mu - beta * LN(-LN(1 - 1.0 / 4)), 4) AS return_level_4wk,
           ROUND(mu - beta * LN(-LN(1 - 1.0 / 52)), 4) AS return_level_52wk
    FROM fit
    """,
)
def stats_gumbel_block_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extreme-value (Gumbel, method-of-moments) fit to WEEKLY MAXIMA of
    the daily event count: β = σ√6/π, μ = x̄ − γβ, plus the 4-week and
    52-week return levels μ − β·ln(−ln(1−1/T)) — 'how big a day should
    we provision for', the capacity question the mean-based alarms
    ([[ts_cusum_drift]], [[stats_page_hinkley_alarm]]) never answer.
    Block-maxima is the classical EVT route; [[events_hill_tail_index]]
    is its peaks-over-threshold cousin on the per-user axis.

    Exactness: weekly maxima and their moments (n, Σ, Σ²) are exact
    integers from two groupBys; the fit and return levels are fixed
    expression trees on three integers, rounded 4. Plan: groupBy days →
    groupBy weeks → 1-row aggregate.
    """
    daily = (
        read_table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    weekly = daily.groupBy(F.date_trunc("week", F.col("d")).alias("wk")).agg(
        F.max("x").alias("mx")
    )
    mom = weekly.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("mx").alias("s1"),
        F.sum(F.col("mx") * F.col("mx")).alias("s2"),
    )
    n = F.col("n") * 1.0
    sd = F.sqrt((F.col("s2") - F.col("s1") / n * F.col("s1")) / (F.col("n") - 1.0))
    import math

    beta = sd * math.sqrt(6.0) / math.pi
    mu = F.col("s1") / n - 0.5772156649015329 * beta

    def rl(t):
        return mu - beta * math.log(-math.log(1 - 1.0 / t))

    return mom.select(
        F.col("n").cast("long").alias("n_weeks"),
        F.round(mu, 4).alias("gumbel_mu"),
        F.round(beta, 4).alias("gumbel_beta"),
        F.round(rl(4), 4).alias("return_level_4wk"),
        F.round(rl(52), 4).alias("return_level_52wk"),
    )


@query(
    "monitor_completeness_profile",
    """
    WITH flags AS (
      SELECT (user_id IS NULL)::INT AS u_null,
             (event_type IS NULL OR event_type = '')::INT AS t_blank,
             (value IS NULL)::INT AS v_null,
             (value = 0)::INT AS v_zero,
             (props IS NULL OR props = '' OR props = '{}')::INT AS p_empty
      FROM events
    ),
    agg AS (
      SELECT COUNT(*) AS n, SUM(u_null) AS u, SUM(t_blank) AS t,
             SUM(v_null) AS vn, SUM(v_zero) AS vz, SUM(p_empty) AS pe
      FROM flags
    )
    SELECT col, n_rows, n_missing,
           ROUND(n_missing / (1.0 * n_rows), 6) AS missing_rate
    FROM (
      SELECT 'event_type_blank' AS col, n AS n_rows, t AS n_missing FROM agg
      UNION ALL SELECT 'props_empty', n, pe FROM agg
      UNION ALL SELECT 'user_id_null', n, u FROM agg
      UNION ALL SELECT 'value_null', n, vn FROM agg
      UNION ALL SELECT 'value_zero', n, vz FROM agg
    ) ORDER BY col
    """,
)
def monitor_completeness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column completeness profile of the event stream: null, blank and
    zero rates for the contract-critical columns, unpivoted to one row
    per check — the data-quality tripwire that runs BEFORE statistical
    drift monitors make sense ([[monitor_ks_value_drift]] on a column
    that silently went 40% null is comparing garbage;
    [[profile_numeric_columns]] profiles distributions, this profiles
    PRESENCE).

    Exactness: every check is an exact integer conditional sum from ONE
    scan (the flags project per row, the aggregate combines map-side);
    one division per check row, rounded 6. Plan: one pass + a 5-row
    unpivot.
    """
    ev = read_table(spark, sf_dir, "events")
    agg = ev.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("user_id").isNull(), 1).otherwise(0)).alias("u"),
        F.sum(
            F.when(F.col("event_type").isNull() | (F.col("event_type") == ""), 1)
            .otherwise(0)
        ).alias("t"),
        F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)).alias("vn"),
        F.sum(F.when(F.col("value") == 0, 1).otherwise(0)).alias("vz"),
        F.sum(
            F.when(
                F.col("props").isNull()
                | (F.col("props") == "")
                | (F.col("props") == "{}"),
                1,
            ).otherwise(0)
        ).alias("pe"),
    )
    checks = [
        ("event_type_blank", "t"),
        ("props_empty", "pe"),
        ("user_id_null", "u"),
        ("value_null", "vn"),
        ("value_zero", "vz"),
    ]
    rows = [
        agg.select(
            F.lit(name).alias("col"),
            F.col("n").alias("n_rows"),
            F.col(c).alias("n_missing"),
            F.round(F.col(c) / (1.0 * F.col("n")), 6).alias("missing_rate"),
        )
        for name, c in checks
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("col")


@query(
    "stats_ipw_ate",
    """
    WITH ua AS (
      SELECT user_id, CAST(FLOOR(LN(COUNT(*)) / LN(2)) AS INT) AS bucket
      FROM events GROUP BY user_id
    ),
    arms AS (
      SELECT e.event_id, ua.bucket,
             (e.event_type = 'click') AS treated,
             CAST(ROUND(e.value * 100) AS BIGINT) AS cents
      FROM events e JOIN ua ON e.user_id = ua.user_id
      WHERE e.event_type IN ('click', 'view')
    ),
    prop AS (
      SELECT bucket,
             COUNT(*) FILTER (WHERE treated) / (1.0 * COUNT(*)) AS e_x
      FROM arms GROUP BY bucket
    ),
    wrow AS (
      SELECT a.treated,
             CAST(ROUND(CASE WHEN a.treated
                    THEN a.cents / p.e_x
                    ELSE a.cents / (1 - p.e_x) END) AS BIGINT) AS wcents
      FROM arms a JOIN prop p ON a.bucket = p.bucket
    ),
    tot AS (SELECT COUNT(*) AS n FROM wrow)
    SELECT CAST(tot.n AS BIGINT) AS n_units,
           ROUND(SUM(CASE WHEN treated THEN wcents END) / (100.0 * tot.n)
                 - SUM(CASE WHEN NOT treated THEN wcents END)
                   / (100.0 * tot.n), 4) AS ate_ipw,
           ROUND(SUM(CASE WHEN treated THEN wcents END)
                 / (100.0 * COUNT(*) FILTER (WHERE treated))
                 - SUM(CASE WHEN NOT treated THEN wcents END)
                   / (100.0 * COUNT(*) FILTER (WHERE NOT treated)), 4)
             AS naive_diff_weighted_arms
    FROM wrow, tot GROUP BY tot.n
    """,
)
def stats_ipw_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-propensity-weighted ATE of 'click' vs 'view' on event
    value, stratified by the log₂ user-activity bucket as the observed
    confounder: ê(x) per bucket, Horvitz–Thompson weights 1/ê (treated)
    and 1/(1−ê) (control) — the observational-causal counterpart of the
    randomized-experiment readers ([[stats_welch_ttest]] assumes
    assignment ⊥ activity; IPW removes the activity confounding it
    can't).

    Exactness: bucket, propensities and counts are exact integers; each
    row's weighted outcome is quantized to integer cents BEFORE the
    corpus-wide sums (order-free — the house protocol), two divisions
    at the end, rounded 4. Plan: one per-user groupBy (broadcast back),
    one per-bucket propensity aggregate (≤~12 rows, broadcast), one
    weighted scan.
    """
    ev = read_table(spark, sf_dir, "events")
    ua = ev.groupBy("user_id").agg(
        F.floor(F.log(F.count(F.lit(1))) / F.lit(float(__import__("math").log(2))))
        .cast("int")
        .alias("bucket")
    )
    arms = (
        ev.filter(F.col("event_type").isin("click", "view"))
        .join(F.broadcast(ua), "user_id")
        .select(
            "bucket",
            (F.col("event_type") == "click").alias("treated"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    prop = arms.groupBy("bucket").agg(
        (
            F.sum(F.when(F.col("treated"), 1).otherwise(0)) / (1.0 * F.count(F.lit(1)))
        ).alias("e_x")
    )
    wrow = arms.join(F.broadcast(prop), "bucket").select(
        "treated",
        F.round(
            F.when(F.col("treated"), F.col("cents") / F.col("e_x")).otherwise(
                F.col("cents") / (1 - F.col("e_x"))
            )
        )
        .cast("long")
        .alias("wcents"),
    )
    agg = wrow.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("treated"), F.col("wcents"))).alias("st"),
        F.sum(F.when(~F.col("treated"), F.col("wcents"))).alias("sc"),
        F.sum(F.when(F.col("treated"), 1).otherwise(0)).alias("nt"),
        F.sum(F.when(~F.col("treated"), 1).otherwise(0)).alias("nc"),
    )
    return agg.select(
        F.col("n").cast("long").alias("n_units"),
        F.round(
            F.col("st") / (100.0 * F.col("n")) - F.col("sc") / (100.0 * F.col("n")),
            4,
        ).alias("ate_ipw"),
        F.round(
            F.col("st") / (100.0 * F.col("nt")) - F.col("sc") / (100.0 * F.col("nc")),
            4,
        ).alias("naive_diff_weighted_arms"),
    )


@query(
    "stats_sign_test_paired",
    """
    WITH bounds AS (
      SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS cutoff_us
      FROM events
    ),
    per AS (
      SELECT user_id,
             COUNT(*) FILTER (WHERE epoch_us(ts) < bounds.cutoff_us) AS n1,
             COUNT(*) FILTER (WHERE epoch_us(ts) >= bounds.cutoff_us) AS n2
      FROM events, bounds GROUP BY user_id
    ),
    s AS (
      SELECT COUNT(*) FILTER (WHERE n2 > n1) AS s_plus,
             COUNT(*) FILTER (WHERE n2 < n1) AS s_minus,
             COUNT(*) FILTER (WHERE n2 = n1) AS ties
      FROM per
    )
    SELECT CAST(s_plus AS BIGINT) AS s_plus,
           CAST(s_minus AS BIGINT) AS s_minus,
           CAST(ties AS BIGINT) AS ties,
           ROUND((s_plus - s_minus) / SQRT(s_plus + s_minus), 4) AS z_stat
    FROM s
    """,
)
def stats_sign_test_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired sign test of per-user activity, first half vs second half
    of the log (integer epoch-microsecond midpoint — the
    [[events_rfm_migration]] cutoff): S⁺/S⁻ users who sped up / slowed
    down, ties dropped, z = (S⁺−S⁻)/√(S⁺+S⁻). The distribution-free
    paired test — each user is their own control, so cross-user scale
    differences cancel where the unpaired [[stats_mann_whitney_u]] would
    eat them as noise.

    Exactness: everything through the z numerator/denominator is exact
    integer arithmetic; one division, rounded 4. Plan: one 1-row bounds
    broadcast, one per-user conditional groupBy, one 1-row aggregate.
    """
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us")
    )
    bounds = ev.agg(
        ((F.min("us") + F.max("us")) / 2).cast("long").alias("cutoff_us")
    )
    per = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("us") < F.col("cutoff_us"), 1).otherwise(0)).alias(
                "n1"
            ),
            F.sum(F.when(F.col("us") >= F.col("cutoff_us"), 1).otherwise(0)).alias(
                "n2"
            ),
        )
    )
    s = per.agg(
        F.sum(F.when(F.col("n2") > F.col("n1"), 1).otherwise(0)).alias("s_plus"),
        F.sum(F.when(F.col("n2") < F.col("n1"), 1).otherwise(0)).alias("s_minus"),
        F.sum(F.when(F.col("n2") == F.col("n1"), 1).otherwise(0)).alias("ties"),
    )
    return s.select(
        F.col("s_plus").cast("long").alias("s_plus"),
        F.col("s_minus").cast("long").alias("s_minus"),
        F.col("ties").cast("long").alias("ties"),
        F.round(
            (F.col("s_plus") - F.col("s_minus"))
            / F.sqrt(F.col("s_plus") + F.col("s_minus")),
            4,
        ).alias("z_stat"),
    )


@query(
    "stats_anova_oneway",
    """
    WITH parts AS (
      SELECT CASE WHEN EXTRACT(hour FROM ts) < 6 THEN 'night'
                  WHEN EXTRACT(hour FROM ts) < 12 THEN 'morning'
                  WHEN EXTRACT(hour FROM ts) < 18 THEN 'afternoon'
                  ELSE 'evening' END AS daypart,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    g AS (
      SELECT daypart, COUNT(*) AS n, SUM(cents) AS s1,
             SUM(cents * cents) AS s2
      FROM parts GROUP BY daypart
    ),
    tot AS (
      SELECT SUM(n) AS nn, SUM(s1) AS t1, SUM(s2) AS t2, COUNT(*) AS k
      FROM g
    ),
    ss AS (
      SELECT k, nn,
             -- between-group SS folded in pinned daypart order
             list_reduce(list_prepend(0.0::DOUBLE,
               (SELECT LIST(s1 / (100.0 * n) * s1 / n ORDER BY daypart)
                FROM g)), (a, b) -> a + b)
               - (t1 / 100.0) * t1 / nn AS ssb_c,
             t2 / 10000.0 - (t1 / 100.0) * t1 / 10000.0 / nn AS sst
      FROM tot
    )
    SELECT CAST(k AS BIGINT) AS k_groups,
           CAST(nn AS BIGINT) AS n_rows,
           ROUND(ssb_c / 100.0, 2) AS ss_between,
           ROUND(sst - ssb_c / 100.0, 2) AS ss_within,
           ROUND((ssb_c / 100.0 / (k - 1))
                 / ((sst - ssb_c / 100.0) / (nn - k)), 4) AS f_stat
    FROM ss
    """,
)
def stats_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of event value across four dayparts: the F ratio of
    between-daypart to within-daypart variance — the K-group
    generalization of [[stats_welch_ttest]] (equal-variance form; the
    K-group screen you run before drilling into pairwise contrasts with
    multiplicity control, [[stats_fdr_bh]]).

    Exactness: per-group moments (n, Σ, Σ²) are exact integer cents from
    ONE groupBy; the between-group sum of squares folds the K=4
    per-group terms in pinned daypart order; everything else is a fixed
    expression tree, rounded 2/4. Plan: one map-side-combinable groupBy
    + algebra on the 4-row frame.
    """
    ev = read_table(spark, sf_dir, "events")
    hour = F.hour("ts")
    daypart = (
        F.when(hour < 6, "night")
        .when(hour < 12, "morning")
        .when(hour < 18, "afternoon")
        .otherwise("evening")
    )
    cents = F.round(F.col("value") * 100).cast("long")
    g = ev.select(daypart.alias("daypart"), cents.alias("cents")).groupBy(
        "daypart"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).alias("s2"),
    )
    fold_b = F.aggregate(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("daypart"),
                        (
                            F.col("s1") / (100.0 * F.col("n")) * F.col("s1") / F.col("n")
                        ).alias("v"),
                    )
                )
            ),
            lambda s: s["v"],
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    tot = g.groupBy().agg(
        F.sum("n").alias("nn"),
        F.sum("s1").alias("t1"),
        F.sum("s2").alias("t2"),
        F.count(F.lit(1)).alias("k"),
        fold_b.alias("fb"),
    )
    ssb_c = F.col("fb") - (F.col("t1") / 100.0) * F.col("t1") / F.col("nn")
    sst = (
        F.col("t2") / 10000.0
        - (F.col("t1") / 100.0) * F.col("t1") / 10000.0 / F.col("nn")
    )
    return tot.select(
        F.col("k").cast("long").alias("k_groups"),
        F.col("nn").cast("long").alias("n_rows"),
        F.round(ssb_c / 100.0, 2).alias("ss_between"),
        F.round(sst - ssb_c / 100.0, 2).alias("ss_within"),
        F.round(
            (ssb_c / 100.0 / (F.col("k") - 1))
            / ((sst - ssb_c / 100.0) / (F.col("nn") - F.col("k"))),
            4,
        ).alias("f_stat"),
    )
