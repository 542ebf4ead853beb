"""Exact global ranks / NTILE without a global sort.

The scale problem: ``NTILE(k) OVER (ORDER BY v)`` and
``ROW_NUMBER() OVER (ORDER BY v)`` plan a single-partition WindowExec —
every row moves to ONE task, which is the canonical 100 TB killer
(`WindowExec: No Partition Defined` warnings). But exact global order
statistics do not need a total order: they need each row's exact global
RANK, and rank decomposes as

    rank(row) = (# rows in strictly-earlier range bins) + (rank within bin)

so the plan becomes three partial-aggregatable / partitioned stages:

1. **boundaries** — one `percentile_approx` aggregate per ranked metric
   (a mergeable GK sketch; one pass, map-side combinable) yields ~nbins
   range-bin boundaries. The boundaries only need MONOTONICITY, never
   accuracy: a skewed sketch merely unbalances bins, it cannot change any
   rank.
2. **bin histogram** — one `groupBy(bin).count()` (partial-aggregatable)
   whose result is ≤ nbins rows; the driver turns it into per-bin rank
   offsets (a bounded "model moves, not data" collect, same class as the
   PQ codebook aggregates in operators/similarity.py).
3. **within-bin ranking** — `row_number() OVER (PARTITION BY bin ORDER BY
   value, tiebreaks)`: a *partitioned* window, parallel across bins, plus
   a broadcast join against the ≤ nbins offset rows.

Equal values always share a bin (the bin is a pure function of the
value), so `offset + row_number` reproduces the exact global rank —
including deterministic tie-breaks — and NTILE follows arithmetically
from (rank, total). Multiple rank specs over the same frame share ONE
boundary pass and ONE joint histogram pass; per-spec bins (explicit or
default) are hard-capped in multi-spec calls so the joint histogram
stays ≤ Π(nbins+1) ≲ 5k driver rows regardless of caller arguments.

Each kernel ``persist()``s the input frame before the driver collects,
so the boundary sketch, the bin histogram, and the caller's eventual
action all read ONE materialization instead of recomputing an expensive
upstream (e.g. a per-customer aggregate of orders) three times — and the
collected totals/offsets can never diverge from the final pass. The
cache entry is keyed on the caller's own ``df`` object: callers that
want the memory back after their action simply ``df.unpersist()`` (the
bench harness clears the whole cache between queries); pass
``persist_input=False`` when the input is already persisted or is a
BARE column-pruned scan: re-reading projected parquet three times is
cheaper at 100 TB than writing a cache copy of the whole projection
(cache write ≈ data size), and the scan is deterministic, so the
collected offsets cannot diverge from the final pass. The persist
default exists for EXPENSIVE upstreams (joins, aggregates) — the
shapes the order-statistic queries actually rank.

Used by the former global-NTILE queries (`sample_split_temporal`,
`agg_histogram_equidepth`, `rfm_customer_segments`,
`xdomain_engagement_revenue`, `events_activity_gini`) whose DuckDB
oracles still use plain NTILE/ROW_NUMBER — exactness is the contract.
The same decomposition generalizes to any associative accumulator:
:func:`with_global_cumsums` (exact running sums → the KS drift gate's
CDFs) and :func:`with_global_running_max` (the late-arrival
high-watermark replay).

Assumptions: ranked values are non-null (all call sites rank NOT NULL
aggregates or raw keys); callers with nullable metrics must filter or
coalesce first.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from databricks_end_to_end_lakeflow_project_spark.session import persist_once
from pyspark.sql import types as T


def monotone_bin_value(col: Column, dtype: T.DataType) -> Column:
    """Monotone non-decreasing NUMERIC image of ``col`` for
    :class:`RankSpec.bin_value` when the ranked value itself is not
    numeric (``percentile_approx`` needs a number; the bins only need
    monotonicity, never injectivity — collisions merely merge adjacent
    bins, which the kernel tolerates by construction).

    - numeric/boolean: identity (booleans as 0/1);
    - timestamp: microseconds since epoch; date: days since epoch;
    - string: the first 7 UTF-8 bytes as a big-endian integer. Spark's
      default UTF8_BINARY collation orders strings by UTF-8 bytes, and
      hex + right-pad-with-'0' preserves byte-prefix order exactly, so
      the image is monotone in the window's ORDER BY; strings sharing a
      7-byte prefix land in one bin and are split by the within-bin sort.
    """
    if isinstance(dtype, T.StringType):
        return F.conv(
            F.rpad(F.hex(F.substring(F.encode(col, "UTF-8"), 1, 7)), 14, "0"), 16, 10
        ).cast("long")
    if isinstance(dtype, T.TimestampType):
        return F.unix_micros(col)
    if isinstance(dtype, T.TimestampNTZType):
        # session TZ is pinned by the registry wrapper, so the cast is a
        # fixed monotone shift — bin boundaries only need monotonicity
        return F.unix_micros(col.cast("timestamp"))
    if isinstance(dtype, T.DateType):
        return F.datediff(col, F.lit("1970-01-01").cast("date"))
    if isinstance(dtype, T.BooleanType):
        return col.cast("int")
    if isinstance(dtype, T.NumericType):
        return col
    raise TypeError(f"no monotone numeric image for {dtype}")


@dataclass
class RankSpec:
    """One exact global ordering over a frame.

    ``out``: rank column to add; ``value``: ordered column (leading sort
    key); ``tiebreaks``: deterministic ascending tie-break columns;
    ``descending``: direction of the VALUE ordering (tiebreaks stay
    ascending, matching `ORDER BY v DESC, id`); ``bin_value``: optional
    numeric binning expression when the value itself is not numeric
    (e.g. ``F.unix_micros(ts)``) — must be monotone non-decreasing in the
    value; ``nbins``: range-bin count (defaults chosen by the planner).
    """

    out: str
    value: str
    tiebreaks: list[str] = field(default_factory=list)
    descending: bool = False
    bin_value: Column | None = None
    nbins: int | None = None


def _bin_col(bv: Column, bounds: list) -> Column:
    """0-based range-bin id: number of boundaries ≤ value. Sorted-array
    `filter` keeps the expression one higher-order function instead of an
    nbins-term add chain (codegen method-size safe at any nbins)."""
    if not bounds:
        return F.lit(0)
    arr = F.array(*[F.lit(b) for b in bounds])
    return F.size(F.filter(arr, lambda b: bv >= b))


def _probabilities(nbins: int) -> Column:
    """The boundary sketch's probabilities ``j / nbins`` for j in
    1..nbins-1 as ONE SQL array of double literals: one py4j call, where
    an ``F.array`` of ``F.lit`` pays one per probability (127 at 128
    bins). ``repr`` round-trips a float, so each literal parses back to
    the same double."""
    probs = ", ".join(f"{j / nbins!r}D".upper() for j in range(1, nbins))
    return F.expr(f"array({probs})")


def with_global_ranks(
    df: DataFrame,
    specs: list[RankSpec],
    *,
    persist_input: bool = True,
    stats_out: dict | None = None,
) -> tuple[DataFrame, int]:
    """Add one exact global 1-based rank column per spec; returns
    ``(df + rank columns, total row count)``.

    Cost: one materialization of ``df`` (persisted; see module docstring)
    + one boundary aggregate + one joint bin histogram (both
    partial-aggregatable; driver sees ≤ Π nbins rows) + one partitioned
    window per spec. No single-partition stage anywhere.

    ``stats_out``: optional dict the kernel fills with scale diagnostics
    for the bench curve — total rows, driver-histogram row count, and
    per-spec bin count + max bin share (the skew the partitioned window
    actually sees). Filled from the SAME passes the kernel runs anyway;
    no extra jobs.
    """
    if not specs:
        raise ValueError("need at least one RankSpec")
    # joint histogram is Π(nbins+1) driver rows: generous bins for one
    # spec, modest per-spec bins when several orderings share the frame.
    # Explicit spec.nbins is honored up to a hard per-spec cap so a
    # multi-spec call can never collect an unbounded joint histogram.
    default_bins = 128 if len(specs) == 1 else 16
    max_bins = 512 if len(specs) == 1 else 16
    if persist_input and not df.is_cached:
        # is_cached guard: callers that pre-persist their own upstream
        # (e.g. rfm's per-customer aggregate) keep cache OWNERSHIP — the
        # kernel must not double-persist the same plan (CacheManager
        # 'already cached' warning, two handles to one entry).
        # persist_once additionally checks the CacheManager by CANONICAL
        # plan: a repeat same-session invocation of the same query builds
        # a fresh (is_cached == False) object over an already-cached plan
        df = persist_once(df)

    # 1. one pass: every spec's boundary sketch in a single aggregate
    # (materializes the persisted input; passes 2 and 3 read the cache)
    aggs = []
    for i, s in enumerate(specs):
        nb = min(s.nbins or default_bins, max_bins)
        bv = s.bin_value if s.bin_value is not None else F.col(s.value)
        aggs.append(F.percentile_approx(bv, _probabilities(nb), 10_000).alias(f"__b{i}"))
    brow = df.agg(*aggs).collect()[0]
    bounds = [sorted(set(brow[f"__b{i}"] or [])) for i in range(len(specs))]

    bin_names = [f"__sr_bin_{s.out}" for s in specs]
    binned = df
    for s, bn, bs in zip(specs, bin_names, bounds):
        bv = s.bin_value if s.bin_value is not None else F.col(s.value)
        binned = binned.withColumn(bn, _bin_col(bv, bs))

    # 2. one pass: joint histogram → per-spec marginal offsets. The offsets
    # are ≤ nbins (bin → rank offset) pairs, so they travel as a LITERAL map
    # expression — "model moves, not data": no join, no broadcast, no
    # unpartitioned window anywhere.
    hist = binned.groupBy(*bin_names).count().collect()
    total = sum(r["count"] for r in hist)
    if stats_out is not None:
        stats_out["n_rows"] = total
        stats_out["hist_rows"] = len(hist)
    if not hist:  # empty input: typed null ranks, zero total
        out = binned
        for s in specs:
            out = out.withColumn(s.out, F.lit(None).cast("long"))
        return out.drop(*bin_names), 0
    out = binned
    for s, bn in zip(specs, bin_names):
        marg: dict[int, int] = {}
        for r in hist:
            marg[r[bn]] = marg.get(r[bn], 0) + r["count"]
        if stats_out is not None:
            stats_out[f"bins_{s.out}"] = len(marg)
            stats_out[f"max_bin_share_{s.out}"] = round(max(marg.values()) / total, 5)
        acc = 0
        flat: list[Column] = []
        for b in sorted(marg, reverse=s.descending):
            flat += [F.lit(b), F.lit(acc).cast("long")]
            acc += marg[b]
        offset = F.element_at(F.create_map(*flat), F.col(bn))

        order = [F.col(s.value).desc() if s.descending else F.col(s.value)]
        order += [F.col(t) for t in s.tiebreaks]
        w = Window.partitionBy(bn).orderBy(*order)
        out = out.withColumn(s.out, offset + F.row_number().over(w)).drop(bn)
    return out, total


def with_global_cumsums(
    df: DataFrame,
    value: str,
    tiebreaks: list[str],
    sums: dict[str, Column],
    *,
    bin_value: Column | None = None,
    nbins: int = 128,
    persist_input: bool = True,
) -> tuple[DataFrame, dict[str, int]]:
    """Exact INCLUSIVE running sums over the global ``(value, tiebreaks)``
    order without a global sort — the distributed-CDF primitive behind
    [[monitor_ks_value_drift]] and the same three-stage plan as
    :func:`with_global_ranks`: range-bin the order key, aggregate each
    requested weight per bin (bounded collect), ship the exclusive
    per-bin prefix totals as a literal map, and add a PARTITIONED
    within-bin running-sum window. Returns ``(df + cumsum columns,
    {out: grand total})``; weights must be non-null (coalesce first) and
    INTEGER-valued — double weights would make the per-bin partial sums
    reduction-order-dependent, breaking cross-engine exactness. The
    input is persisted across the two collects and the returned plan
    (module docstring); the caller owns the cache handle."""
    if persist_input and not df.is_cached:
        # is_cached guard: callers that pre-persist their own upstream
        # (e.g. rfm's per-customer aggregate) keep cache OWNERSHIP — the
        # kernel must not double-persist the same plan (CacheManager
        # 'already cached' warning, two handles to one entry).
        # persist_once additionally checks the CacheManager by CANONICAL
        # plan: a repeat same-session invocation of the same query builds
        # a fresh (is_cached == False) object over an already-cached plan
        df = persist_once(df)
    bv = bin_value if bin_value is not None else F.col(value)
    probs = _probabilities(nbins)
    bounds = sorted(
        set(df.agg(F.percentile_approx(bv, probs, 10_000).alias("b")).collect()[0]["b"] or [])
    )
    binned = df.withColumn("__sc_bin", _bin_col(bv, bounds))
    hist = (
        binned.groupBy("__sc_bin")
        .agg(*[F.sum(w).alias(f"__s_{out}") for out, w in sums.items()])
        .collect()
    )
    if not hist:  # empty input: typed null cumsums, zero totals
        out_df = binned
        for name in sums:
            out_df = out_df.withColumn(name, F.lit(None).cast("long"))
        return out_df.drop("__sc_bin"), {name: 0 for name in sums}
    order = [F.col(value)] + [F.col(t) for t in tiebreaks]
    w_run = (
        Window.partitionBy("__sc_bin")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = binned
    totals: dict[str, int] = {}
    for name, wcol in sums.items():
        acc = 0
        flat: list[Column] = []
        for r in sorted(hist, key=lambda r: r["__sc_bin"]):
            flat += [F.lit(r["__sc_bin"]), F.lit(int(acc)).cast("long")]
            acc += int(r[f"__s_{name}"] or 0)
        totals[name] = acc
        offset = F.element_at(F.create_map(*flat), F.col("__sc_bin"))
        out = out.withColumn(name, offset + F.sum(wcol).over(w_run))
    return out.drop("__sc_bin"), totals


def with_global_running_max(
    df: DataFrame,
    order_value: str,
    of_col: str,
    out: str,
    *,
    exclusive: bool = True,
    bin_value: Column | None = None,
    nbins: int = 128,
    persist_input: bool = True,
) -> DataFrame:
    """Exact running MAX of ``of_col`` over the global ``order_value``
    order without a global sort — max is associative, so the rank/cumsum
    decomposition applies verbatim: per-range-bin maxima (bounded
    collect) ship as a literal map of EXCLUSIVE prefix maxima, and a
    PARTITIONED within-bin running-max window supplies the rest;
    ``greatest`` of the two (null-tolerant) is the global running max.
    ``exclusive=True`` gives the `ROWS BETWEEN UNBOUNDED PRECEDING AND 1
    PRECEDING` frame (the streaming high-watermark shape: NULL for the
    first row overall). ``order_value`` must be globally unique (an
    arrival/event id); use ranks first if it is not. The input is
    persisted across the two collects and the returned plan (module
    docstring); the caller owns the cache handle."""
    if persist_input and not df.is_cached:
        # is_cached guard: callers that pre-persist their own upstream
        # (e.g. rfm's per-customer aggregate) keep cache OWNERSHIP — the
        # kernel must not double-persist the same plan (CacheManager
        # 'already cached' warning, two handles to one entry).
        # persist_once additionally checks the CacheManager by CANONICAL
        # plan: a repeat same-session invocation of the same query builds
        # a fresh (is_cached == False) object over an already-cached plan
        df = persist_once(df)
    bv = bin_value if bin_value is not None else F.col(order_value)
    probs = _probabilities(nbins)
    bounds = sorted(
        set(df.agg(F.percentile_approx(bv, probs, 10_000).alias("b")).collect()[0]["b"] or [])
    )
    binned = df.withColumn("__sm_bin", _bin_col(bv, bounds))
    hist = sorted(
        binned.groupBy("__sm_bin").agg(F.max(of_col).alias("m")).collect(),
        key=lambda r: r["__sm_bin"],
    )
    dtype = df.schema[of_col].dataType
    if not hist:  # empty input: typed null running max
        return binned.withColumn(out, F.lit(None).cast(dtype)).drop("__sm_bin")
    prefix = None
    flat: list[Column] = []
    for r in hist:
        # exclusive prefix: max over strictly-earlier bins (None for first;
        # cast pins the literal's type so the map never degrades to NullType)
        flat += [F.lit(r["__sm_bin"]), F.lit(prefix).cast(dtype)]
        if r["m"] is not None:
            prefix = r["m"] if prefix is None else max(prefix, r["m"])
    offset = F.element_at(F.create_map(*flat), F.col("__sm_bin"))
    end = -1 if exclusive else 0
    w = (
        Window.partitionBy("__sm_bin")
        .orderBy(order_value)
        .rowsBetween(Window.unboundedPreceding, end)
    )
    within = F.max(of_col).over(w)
    return binned.withColumn(out, F.greatest(offset, within)).drop("__sm_bin")


def ntile_from_rank(rank: Column, total: int, tiles: int) -> Column:
    """SQL NTILE(tiles) from an exact 1-based global rank and the total
    row count: the first ``total % tiles`` tiles get ``total//tiles + 1``
    rows, the rest ``total//tiles`` — identical to the window function's
    assignment, as pure arithmetic."""
    base, rem = divmod(total, tiles)
    if base == 0:
        return rank.cast("int")
    cut = rem * (base + 1)
    return (
        F.when(rank <= cut, F.floor((rank - 1) / (base + 1)))
        .otherwise(rem + F.floor((rank - cut - 1) / base))
        + 1
    ).cast("int")


def with_ntile(
    df: DataFrame,
    tiles: int,
    value: str,
    tiebreaks: list[str],
    out: str,
    *,
    descending: bool = False,
    bin_value: Column | None = None,
    persist_input: bool = True,
) -> DataFrame:
    """Single-ordering convenience: exact ``NTILE(tiles) OVER (ORDER BY
    value [DESC], tiebreaks)`` via the three-stage rank plan.
    ``persist_input=False`` for bare column-pruned scans: re-reading a
    projected parquet source three times is cheaper at 100 TB than
    writing a cache copy of it (see module docstring)."""
    spec = RankSpec(
        out="__sr_rank",
        value=value,
        tiebreaks=tiebreaks,
        descending=descending,
        bin_value=bin_value,
    )
    ranked, total = with_global_ranks(df, [spec], persist_input=persist_input)
    return ranked.withColumn(out, ntile_from_rank(F.col("__sr_rank"), total, tiles)).drop(
        "__sr_rank"
    )
