"""Golden-state tests for the flight medallion pipeline: base load →
increment (new keys) → scd (changed rows), asserting the post-run table
states the reference's CDC scenario design expects (FIXTURES.md §2)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from databricks_end_to_end_lakeflow_project_spark.plans.flight_pipeline import FlightLakehouse
from databricks_end_to_end_lakeflow_project_spark.sources import flight_fixtures as fx

T1 = dt.datetime(2025, 8, 1, 0, 0, 0)
T2 = dt.datetime(2025, 8, 2, 0, 0, 0)
T3 = dt.datetime(2025, 8, 3, 0, 0, 0)


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("flight")
    raw = str(root / "raw")
    fx.write_base(raw)
    lk = FlightLakehouse(spark, raw, str(root / "lake"))
    lk.run_all(clock=T1)
    return lk


def _count(lake, name):
    return lake.silver.read(name).count()


def test_base_silver_counts_and_expectations(lake):
    assert _count(lake, "bookings_silver") == 1000  # 1004 raw - 4 dropped
    assert _count(lake, "flights_silver") == 100
    assert _count(lake, "customers_silver") == 200
    assert _count(lake, "airports_silver") == 50
    m = lake.silver.metrics.get("bookings_raw")
    assert m is not None and m.failed_rows == 4
    assert all(v == 1 for v in m.per_rule_failures.values())


def test_base_gold_dims_and_fact(lake):
    dim = lake._gold_table("DimFlights").read()
    assert dim.count() == 100
    # dense deterministic surrogates 1..100, unique
    keys = sorted(r["DimFlightsKey"] for r in dim.collect())
    assert keys == list(range(1, 101))
    fact = lake._gold_table("Fact_Bookings").read()
    assert fact.count() == 1000
    # bookings referencing passengers beyond the dim → null surrogate
    assert fact.filter(F.col("DimCustomersKey").isNull()).count() > 0
    assert fact.filter(F.col("DimFlightsKey").isNull()).count() == 0


def test_business_silver_join(lake):
    biz = lake.silver.read("business_silver")
    # inner join drops bookings with out-of-dim passenger ids
    assert 0 < biz.count() <= 1000
    assert "airline" in biz.columns and "nationality" in biz.columns


@pytest.fixture(scope="module")
def lake_after_increment(lake):
    fx.write_increment(lake.raw_root)
    lake.run_all(clock=T2)
    return lake


def test_increment_counts(lake_after_increment):
    lake = lake_after_increment
    assert _count(lake, "bookings_silver") == 1300
    assert _count(lake, "flights_silver") == 110
    assert _count(lake, "customers_silver") == 220
    assert _count(lake, "airports_silver") == 55
    assert lake._gold_table("DimAirports").read().count() == 55
    assert lake._gold_table("Fact_Bookings").read().count() == 1300


def test_increment_preserves_existing_surrogates(lake_after_increment):
    dim = lake_after_increment._gold_table("DimAirports").read()
    # pre-existing airport keeps surrogate and create_date from run 1
    row = dim.filter(F.col("airport_id") == "A001").collect()[0]
    assert row["create_date"] == T1
    new_row = dim.filter(F.col("airport_id") == "A051").collect()[0]
    assert new_row["create_date"] == T2
    # new keys continue after the old max, all unique
    keys = [r["DimAirportsKey"] for r in dim.collect()]
    assert len(set(keys)) == 55 and max(keys) == 55


@pytest.fixture(scope="module")
def lake_after_scd(lake_after_increment):
    fx.write_scd(lake_after_increment.raw_root)
    lake_after_increment.run_all(clock=T3)
    return lake_after_increment


def test_scd_type1_overwrite_in_place(lake_after_scd):
    lake = lake_after_scd
    dim = lake._gold_table("DimAirports").read()
    assert dim.count() == 55  # no new rows, updates in place
    changed = dim.filter(F.col("airport_id") == "A003").collect()[0]
    base_city = fx.airport_row(3)[2]
    scd_city = fx.airport_row(3, scd=True)[2]
    assert base_city != scd_city
    assert changed["city"] == scd_city  # latest wins
    assert changed["create_date"] == T1  # preserved
    assert changed["update_date"] == T3
    # surrogate preserved across the SCD update
    assert changed["DimAirportsKey"] == dim.filter(F.col("airport_id") == "A003").collect()[0]["DimAirportsKey"]


def test_no_duplicate_keys_audit(lake_after_scd):
    """The reference's audit queries (README.md:106-110): every dim unique
    on surrogate key; fact unique on grain."""
    lake = lake_after_scd
    for name, key in [
        ("DimAirports", "DimAirportsKey"),
        ("DimFlights", "DimFlightsKey"),
        ("DimCustomers", "DimCustomersKey"),
    ]:
        dup = lake._gold_table(name).read().groupBy(key).count().filter("count > 1")
        assert dup.count() == 0, name
    fact_dup = (
        lake._gold_table("Fact_Bookings").read().groupBy("booking_id").count().filter("count > 1")
    )
    assert fact_dup.count() == 0


def test_rerun_idempotent(lake_after_scd):
    lake = lake_after_scd
    before = {
        name: lake._gold_table(name).read().count()
        for name in ["DimAirports", "DimFlights", "DimCustomers", "Fact_Bookings"]
    }
    lake.run_all(clock=T3)  # no new files; same clock
    after = {
        name: lake._gold_table(name).read().count()
        for name in ["DimAirports", "DimFlights", "DimCustomers", "Fact_Bookings"]
    }
    assert before == after


def test_business_silver_stream_equals_batch(spark, tmp_path_factory):
    """The reference's J1 as WRITTEN — three chained watermarked
    stream-stream joins over the four silver streams — must be
    row-identical to the batch business_silver view on the co-arriving
    replay fixture (fresh lake: the module fixture may have already
    absorbed increments/scd)."""
    from databricks_end_to_end_lakeflow_project_spark.pipeline.dag import run_graph
    from databricks_end_to_end_lakeflow_project_spark.plans.flight_pipeline import (
        business_silver_stream,
    )

    root = tmp_path_factory.mktemp("flight_stream")
    raw = str(root / "raw")
    fx.write_base(raw)
    lk = FlightLakehouse(spark, raw, str(root / "lake"))
    run_graph(lk.silver_graph(T1))

    streamed = business_silver_stream(lk)
    batch = lk.silver.read("business_silver")
    assert sorted(streamed.columns) == sorted(batch.columns)
    cols = sorted(streamed.columns)
    assert streamed.select(*cols).exceptAll(batch.select(*cols)).count() == 0
    assert batch.select(*cols).exceptAll(streamed.select(*cols)).count() == 0
    n = streamed.count()
    assert 0 < n <= 1000 and n == batch.count()


def test_business_silver_stream_drains_run_concurrently(lake):
    """The drain's memory sink has one constant name: two drains at once
    over one lake each run on their own session clone, so neither meets
    the other's query or view, and both return the same rows."""
    from concurrent.futures import ThreadPoolExecutor

    from databricks_end_to_end_lakeflow_project_spark.plans.flight_pipeline import (
        business_silver_stream,
    )

    def drain(_):
        return sorted(map(tuple, business_silver_stream(lake).collect()), key=repr)

    with ThreadPoolExecutor(2) as pool:
        a, b = pool.map(drain, range(2))
    assert a and a == b


def test_fact_fills_after_run_with_only_invalid_bookings(spark, tmp_path):
    """A first run whose bookings all fail expectations leaves an EMPTY
    fact table; its NULL cursor must not slice away the next run's
    bookings."""
    raw = str(tmp_path / "raw")
    fx.write_base(raw)
    bad = ("B99991", "", "F0001", "A001", "100.00", "2025-04-01")
    fx._write(f"{raw}/bookings/base.csv", fx.BOOKING_HDR, [bad])
    lk = FlightLakehouse(spark, raw, str(tmp_path / "lake"))
    lk.run_all(clock=T1)
    assert lk._gold_table("Fact_Bookings").read().count() == 0

    fx._write(f"{raw}/bookings/increment.csv", fx.BOOKING_HDR, [fx.booking_row(1)])
    lk.run_all(clock=T2)
    assert _count(lk, "bookings_silver") == 1
    fact = lk._gold_table("Fact_Bookings").read().collect()
    assert [r["booking_id"] for r in fact] == ["B00001"]
