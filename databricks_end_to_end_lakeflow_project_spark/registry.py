"""Query registry: the single source of truth wiring operator
implementations to the driver contract in ``__spark_entry__.py``.

Every operator module registers its demonstration queries with
:func:`query`. Each entry is a callable ``(spark, sf_dir) -> DataFrame``
plus (when SQL-expressible) a DuckDB oracle SQL string computing the same
result over the same parquet tables. The driver hash-compares the two at
sf=0.01 — names and column aliases must match exactly on both sides.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from databricks_end_to_end_lakeflow_project_spark.session import PINNED_CONF

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}

# modules that register queries on import
_QUERY_MODULES = [
    "databricks_end_to_end_lakeflow_project_spark.plans.analytics",
    "databricks_end_to_end_lakeflow_project_spark.plans.analytics2",
    "databricks_end_to_end_lakeflow_project_spark.plans.analytics3",
    "databricks_end_to_end_lakeflow_project_spark.plans.flight_pipeline",
    "databricks_end_to_end_lakeflow_project_spark.operators.relational",
    "databricks_end_to_end_lakeflow_project_spark.operators.asof",
    "databricks_end_to_end_lakeflow_project_spark.operators.partitioning",
    "databricks_end_to_end_lakeflow_project_spark.functions.udfs",
    "databricks_end_to_end_lakeflow_project_spark.streaming.structured",
    "databricks_end_to_end_lakeflow_project_spark.operators.windows",
    "databricks_end_to_end_lakeflow_project_spark.functions.scalar",
    "databricks_end_to_end_lakeflow_project_spark.operators.cdc",
    "databricks_end_to_end_lakeflow_project_spark.operators.dedup",
    "databricks_end_to_end_lakeflow_project_spark.operators.similarity",
    "databricks_end_to_end_lakeflow_project_spark.operators.textops",
    "databricks_end_to_end_lakeflow_project_spark.operators.textmining",
    "databricks_end_to_end_lakeflow_project_spark.operators.multimodal",
    "databricks_end_to_end_lakeflow_project_spark.streaming.windows",
    "databricks_end_to_end_lakeflow_project_spark.streaming.replay",
    "databricks_end_to_end_lakeflow_project_spark.operators.stats",
    "databricks_end_to_end_lakeflow_project_spark.operators.stats_tests",
    "databricks_end_to_end_lakeflow_project_spark.operators.sampling",
    "databricks_end_to_end_lakeflow_project_spark.operators.rollup",
    "databricks_end_to_end_lakeflow_project_spark.operators.curation",
    "databricks_end_to_end_lakeflow_project_spark.operators.privacy",
    "databricks_end_to_end_lakeflow_project_spark.operators.entity",
    "databricks_end_to_end_lakeflow_project_spark.operators.graph",
    "databricks_end_to_end_lakeflow_project_spark.operators.eventseries",
    "databricks_end_to_end_lakeflow_project_spark.operators.retrieval",
    "databricks_end_to_end_lakeflow_project_spark.sources.readers",
    "databricks_end_to_end_lakeflow_project_spark.sources.pydatasource",
]


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` under ``name``; ``oracle`` is the DuckDB-equivalent
    ANSI SQL (omit for non-SQL-expressible operators → rows-only check)."""

    def deco(fn: QueryFn) -> QueryFn:
        prev = _QUERIES.get(name)
        if prev is not None and prev is not fn:
            raise ValueError(
                f"duplicate query name {name!r}: {prev.__module__}.{prev.__qualname__}"
                f" vs {fn.__module__}.{fn.__qualname__}"
            )
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def _collect() -> None:
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)


def _pin_session(fn: QueryFn) -> QueryFn:
    """Pin `session.PINNED_CONF` on whatever session the caller (driver,
    test, bench) hands us: the UTC timezone and ANSI correctness depends
    on, and the partition-discovery threshold that keeps a managed-table
    read free of a listing job."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        for k, v in PINNED_CONF:
            spark.conf.set(k, v)
        return fn(spark, sf_dir)

    wrapped.__name__ = getattr(fn, "__name__", "query")
    wrapped.__doc__ = fn.__doc__
    return wrapped


def all_queries() -> dict[str, QueryFn]:
    """All registered queries, each wrapped by :func:`_pin_session`.

    NOTE: invoking any returned callable SETS `session.PINNED_CONF`
    (``spark.sql.session.timeZone = UTC``, ``spark.sql.ansi.enabled =
    true``, the partition-discovery threshold) on the caller's session
    and deliberately does NOT restore them — the returned DataFrame is
    lazy, so restoring before the caller's action would evaluate the plan
    under the wrong confs. Embedders running these queries inside a
    session that needs different settings must snapshot/restore around
    their own action."""
    _collect()
    return {name: _pin_session(fn) for name, fn in _QUERIES.items()}


def all_oracles() -> dict[str, str]:
    _collect()
    return dict(_ORACLES)
