"""Gold layer: config-driven dimension and fact builders (star schema).

Re-expression of the reference's two gold notebooks (SURVEY.md §3-E3):

- `DIM_Gold_layer.py` — generic incremental dimension builder: CDC-cursor
  slice, new-vs-old split via left join on business keys, surrogate key
  assignment, audit columns, latest-wins merge. Config block at `:13-41`.
- `FACT_Gold_Layer.py` — config-driven fact builder: star left-joins to
  each dimension to fetch surrogate keys (dimension specs `:35-51`),
  incremental slice, merge on the fact grain (`:174-192`).

Deliberate deviations (documented in SURVEY §3/§4):
- conventional cursor semantics — a missing or empty target loads the
  whole source, an existing target loads from MAX(target.cdc_col); the
  reference's branch is inverted (comments vs code disagree at
  `DIM_Gold_layer.py:121-134`);
- deterministic surrogate keys — `max_key + row_number() over business-key
  order` instead of `monotonically_increasing_id` (`:238`), so rebuilds
  are reproducible (and oracle-testable);
- an injectable ``clock`` instead of bare `current_timestamp()`
  (`:239-240`) for the audit columns, same reason;
- no string-SQL codegen — the same config dicts drive DataFrame plans
  directly (`FACT_Gold_Layer.py:84-123` builds the query as f-strings).

High-water marks: the reference takes MAX(modifiedDate) and MAX(surrogate
key) from Delta, which answers them from the statistics in its log. Here
both come from the min/max statistics in the parquet footers of the
files the target's log lists (`_high_water` → `spark_parquet_max`):
no Spark job per cursor. Timestamps carry those statistics because
`session.get_spark` writes them as TIMESTAMP_MICROS; a table whose
footers lack them (INT96, written by another session) costs one
aggregate, as before.

Each dimension batch is resolved once: the cursor slice, the latest row
per key and the left join on the existing keys are persisted together,
and the rank kernel's collects and both sides of the upsert read that
cache, which is released in a ``finally`` even when the upsert fails.

Scale notes: the fact builder's star joins broadcast the dim side
(explicit `F.broadcast` — dims are a bounded-size class). The dim
builder's old-vs-new split joins the FULL existing key snapshot, which
scales with the dimension, so it carries NO hint: AQE broadcasts at
runtime while the dim is small and shuffle-joins when it is not.
Surrogate assignment ranks new business keys through
`operators/scalerank.py` (range-bin + PARTITIONED window), so even the
initial load — where the batch IS the whole dimension — plans no
single-partition stage. Fact upsert shuffles once on the grain key;
partition the fact target by a date column for pruned rewrites.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from databricks_end_to_end_lakeflow_project_spark.operators.cdc import (
    ManagedParquetTable,
    latest_by_key,
)
from databricks_end_to_end_lakeflow_project_spark.operators.scalerank import (
    RankSpec,
    monotone_bin_value,
    with_global_ranks,
)
from databricks_end_to_end_lakeflow_project_spark.sources.readers import (
    spark_parquet_max,
)


def _clock_col(clock: dt.datetime | None) -> Column:
    return F.lit(clock).cast("timestamp") if clock is not None else F.current_timestamp()


def _high_water(target: ManagedParquetTable, cols: list[str]) -> list[Column | None]:
    """MAX of each column of ``target`` as a literal; None where the
    column holds no non-null value. Read from the footer statistics of
    the files the table's log lists (`spark_parquet_max`), with no Spark
    job; the directory also holds replaced files, so it is not listed.
    Timestamps travel as their INT64 microseconds and become literals
    through ``timestamp_micros``, so no Python timezone conversion
    touches them. Footers that cannot answer (INT96 timestamps written
    before `get_spark` pinned TIMESTAMP_MICROS, or by another session)
    fall back to one aggregate over the table."""
    df = target.read()
    ts = [isinstance(df.schema[c].dataType, T.TimestampType) for c in cols]
    try:
        raw = [spark_parquet_max(target.files(), c) for c in cols]
    except LookupError:
        raw = list(
            df.agg(
                *[F.unix_micros(F.max(c)) if t else F.max(c) for c, t in zip(cols, ts)]
            ).collect()[0]
        )
    return [
        None if v is None else F.timestamp_micros(F.lit(v)) if t else F.lit(v)
        for v, t in zip(raw, ts)
    ]


@dataclass
class DimConfig:
    """Mirrors the reference's dim config block (`DIM_Gold_layer.py:13-41`):
    business key columns, surrogate key name, CDC sequence column."""

    name: str
    business_keys: list[str]
    surrogate_key: str
    cdc_col: str = "modifiedDate"


def assign_surrogate_keys(
    new: DataFrame, cfg: DimConfig, max_key: int | Column
) -> DataFrame:
    """``max_key + dense 1-based rank`` over the batch's business-key
    order (reference semantics: `DIM_Gold_layer.py:236-246`, made
    deterministic — SURVEY §3 deviation). The rank comes from
    `scalerank.with_global_ranks` (range-bin + partitioned window), so
    even an initial full-dimension load plans NO unpartitioned window;
    `monotone_bin_value` supplies the numeric bin image for string keys.
    Business keys must be non-null (they are join keys by definition).
    The kernel reads ``new`` three times (two collects and the returned
    plan) and does not persist it: persist an expensive ``new`` first, as
    `build_dim` does."""
    lead = cfg.business_keys[0]
    spec = RankSpec(
        out=cfg.surrogate_key,
        value=lead,
        tiebreaks=cfg.business_keys[1:],
        bin_value=monotone_bin_value(F.col(lead), new.schema[lead].dataType),
    )
    ranked, _total = with_global_ranks(new, [spec], persist_input=False)
    return ranked.withColumn(
        cfg.surrogate_key, (F.lit(max_key) + F.col(cfg.surrogate_key)).cast("long")
    )


def build_dim(
    source: DataFrame,
    target: ManagedParquetTable,
    cfg: DimConfig,
    clock: dt.datetime | None = None,
) -> DataFrame:
    """One incremental dimension build; returns the upserted batch.

    Pipeline: cursor slice → latest-per-key dedup → old/new split →
    surrogate assignment + audit stamps → latest-wins upsert. The cursor
    and the key high-water mark come from footers (`_high_water`); the
    batch up to the split is computed once (module docstring).
    """
    # 1. cursor (conventional semantics; see module docstring) + key
    # high-water mark, both read from the target's footer statistics
    tbl_exists = target.exists()
    if tbl_exists:
        last_load, max_key = _high_water(target, [cfg.cdc_col, cfg.surrogate_key])
    else:
        last_load = max_key = None
    src = source.filter(F.col(cfg.cdc_col) >= last_load) if last_load is not None else source

    # 2. one change per business key (W1 dedup); unlike the fact, which
    # leaves it to the upsert's merge, the dense surrogate keys below
    # need one row per new key
    src = latest_by_key(src, cfg.business_keys, [cfg.cdc_col])

    # 3. old-vs-new split via left join on business keys (reference J2)
    if tbl_exists:
        # no broadcast hint: `existing` is the FULL dimension key snapshot,
        # which scales with the dimension (a customer-scale dim is not a
        # bounded-size class under this repo's broadcast policy). AQE picks
        # broadcast at runtime while the dim is actually small and falls
        # back to a shuffle join when it is not.
        existing = target.read().select(
            *cfg.business_keys, cfg.surrogate_key, "create_date"
        )
        src = src.join(existing, cfg.business_keys, "left")
    # the resolved batch is computed once: the rank kernel's two collects
    # and both sides of the upsert read this cache
    resolved = src.persist()
    try:
        now = _clock_col(clock)
        if tbl_exists:
            old = resolved.filter(F.col(cfg.surrogate_key).isNotNull()).withColumn(
                "update_date", now
            )
            new = resolved.filter(F.col(cfg.surrogate_key).isNull()).drop(
                cfg.surrogate_key, "create_date"
            )
        else:
            old, new = None, resolved

        # 4. deterministic surrogate keys for new business keys only —
        # max_key + exact global rank over the business-key order. Routed
        # through operators/scalerank.py rather than an unpartitioned
        # row_number window: on an INITIAL load the "new" batch IS the
        # whole dimension, and a single-partition WindowExec over it is
        # the canonical scale killer. Keys stay dense and identical to
        # the old window form (same total order, same tiebreaks).
        new = (
            assign_surrogate_keys(new, cfg, F.lit(0) if max_key is None else max_key)
            .withColumn("create_date", now)
            .withColumn("update_date", now)
        )
        batch = new if old is None else old.unionByName(new.select(*old.columns))

        # 5. latest-wins upsert on the business key
        target.upsert(batch, cfg.business_keys, cfg.cdc_col)
    finally:
        # released whether or not the upsert committed, so a multi-dim
        # pipeline replay or a failed build holds no cache entry
        resolved.unpersist()
    return batch


@dataclass
class FactDimSpec:
    """One dimension edge of the star (reference dimension specs,
    `FACT_Gold_Layer.py:35-51`): which fact columns join to which dim
    business keys, and which surrogate key to fetch."""

    dim: ManagedParquetTable
    join_on: dict[str, str]  # fact column -> dim business-key column
    surrogate_key: str


@dataclass
class FactConfig:
    name: str
    grain_keys: list[str]  # business grain of the fact (merge keys)
    measures: list[str]
    cdc_col: str = "modifiedDate"
    dims: list[FactDimSpec] = field(default_factory=list)


def build_fact(
    source: DataFrame,
    target: ManagedParquetTable,
    cfg: FactConfig,
    clock: dt.datetime | None = None,
) -> None:
    """One incremental fact build: cursor slice → broadcast star joins to
    fetch surrogate keys → upsert on the grain. The slice is not deduped
    first: the upsert's one-window merge keeps the latest row per grain
    key (`merge_upsert_plan`), also on a first write over an empty
    target, and the left joins to dimensions unique on their business
    keys only add columns to each row.

    Unmatched dimension rows keep a NULL surrogate key (the reference's
    LEFT JOIN semantics — FIXTURES.md notes bookings contain passenger ids
    beyond the dim on purpose).
    """
    last_load = _high_water(target, [cfg.cdc_col])[0] if target.exists() else None
    # an existing but EMPTY target has no cursor: slicing on `>= NULL`
    # would drop every later row and leave the fact empty forever
    out = source.filter(F.col(cfg.cdc_col) >= last_load) if last_load is not None else source
    surrogate_cols = []
    for spec in cfg.dims:
        dim_cols = list(dict.fromkeys([*spec.join_on.values(), spec.surrogate_key]))
        # prefix dim columns: fact and dim business keys share names in a
        # star schema (airport_id = airport_id), prefixing keeps the join
        # unambiguous and makes cleanup a simple drop
        pref = f"__{spec.surrogate_key}__"
        dim = spec.dim.read().select(
            *[F.col(c).alias(pref + c) for c in dim_cols]
        )
        cond = None
        for fcol, dcol in spec.join_on.items():
            c = F.col(fcol) == F.col(pref + dcol)
            cond = c if cond is None else (cond & c)
        out = (
            out.join(F.broadcast(dim), cond, "left")
            .withColumn(spec.surrogate_key, F.col(pref + spec.surrogate_key))
            .drop(*[pref + c for c in dim_cols])
        )
        surrogate_cols.append(spec.surrogate_key)

    keep = [*cfg.grain_keys, *cfg.measures, cfg.cdc_col, *surrogate_cols]
    batch = out.select(*keep).withColumn("update_date", _clock_col(clock))

    target.upsert(batch, cfg.grain_keys, cfg.cdc_col)
