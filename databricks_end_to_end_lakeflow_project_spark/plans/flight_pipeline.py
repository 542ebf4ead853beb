"""The flight-booking medallion lakehouse, end to end — this engine's
idiomatic build of everything the reference project does.

Maps 1:1 onto the reference's architecture (SURVEY.md §1, §3):

| layer  | reference                                   | here                          |
|--------|---------------------------------------------|-------------------------------|
| raw    | CSVs per entity dir (Setup.py:25-28)        | ``raw_root/{entity}/*.csv``   |
| bronze | Auto Loader → Delta (bronze_ingest_autoloader.py) | checkpointed stream → parquet |
| silver | DLT views + SCD1 CDC tables (dlt_bronze_to_silver_pipeline.py) | Pipeline views + auto CDC flows |
| gold   | DIM_Gold_layer.py / FACT_Gold_Layer.py      | build_dim / build_fact        |

The silver DAG replicates the reference's 9 datasets: 4 expectation-gated
staging views, 4 SCD1 tables (keyed by booking_id / flight_id /
passenger_id / airport_id, sequenced by ``modifiedDate``), and the
``business_silver`` 4-way join view (`dlt_bronze_to_silver_pipeline.py`
entire file; DAG pictured in the reference's images/dlt_pipeline.png).

``clock`` is injectable wherever the reference calls
``current_timestamp()`` (SURVEY §2.7 F1 flags the nondeterminism), so
golden tests replay runs deterministically.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databricks_end_to_end_lakeflow_project_spark.operators.cdc import ManagedParquetTable
from databricks_end_to_end_lakeflow_project_spark.pipeline.dag import Pipeline, Task, run_graph
from databricks_end_to_end_lakeflow_project_spark.plans.gold import (
    DimConfig,
    FactConfig,
    FactDimSpec,
    build_dim,
    build_fact,
)
from databricks_end_to_end_lakeflow_project_spark.sources.readers import (
    read_spark_parquet,
)
from databricks_end_to_end_lakeflow_project_spark.streaming.ingest import (
    INGEST_FILE_COL,
    INGEST_TIME_COL,
    RESCUE_COL,
    drain_ingest_stream,
    start_ingest_csv_stream,
)

ENTITIES = ["bookings", "flights", "customers", "airports"]
SILVER_TABLES = [f"{e}_silver" for e in ENTITIES]

BOOKING_RULES = {
    "valid_booking_id": "booking_id IS NOT NULL",
    "valid_passenger_id": "passenger_id IS NOT NULL",
    "valid_flight_id": "flight_id IS NOT NULL",
    "valid_airport_id": "airport_id IS NOT NULL",
}


class FlightLakehouse:
    """Bronze→silver→gold runtime for the flight star schema."""

    def __init__(self, spark: SparkSession, raw_root: str, storage_root: str) -> None:
        self.spark = spark
        self.raw_root = raw_root
        self.storage_root = storage_root
        self.bronze_root = os.path.join(storage_root, "bronze")
        self.silver = self._build_silver_pipeline()
        self.gold_root = os.path.join(storage_root, "gold")

    # -- bronze -------------------------------------------------------------

    def _bronze(self, entity: str) -> DataFrame:
        return read_spark_parquet(self.spark, os.path.join(self.bronze_root, entity))

    def _drain(self, entity: str, clock: dt.datetime | None) -> None:
        """Drain the entity's bronze ingest stream, stamping its rows with
        the drain's ingest time, or ``clock``, which silver uses as the
        CDC sequence."""
        if os.path.isdir(os.path.join(self.raw_root, entity)):
            drain_ingest_stream(
                start_ingest_csv_stream(
                    self.spark,
                    os.path.join(self.raw_root, entity),
                    os.path.join(self.bronze_root, entity),
                    os.path.join(self.storage_root, "_checkpoints", entity),
                    os.path.join(self.storage_root, "_schemas", entity),
                    clock,
                )
            )

    def silver_graph(self, clock: dt.datetime | None = None) -> dict[str, Task]:
        """Raw → bronze → silver as `run_graph` tasks: one bronze drain
        per entity (``bronze:<entity>``), all at once, and the silver
        pipeline's run (`Pipeline.graph`), which begins when every drain
        has returned. Each silver table's CDC flow is the task
        ``flow:<table>``."""
        drains = {f"bronze:{e}": (lambda e=e: self._drain(e, clock), ()) for e in ENTITIES}
        return drains | self.silver.graph(after=list(drains))

    # -- silver -------------------------------------------------------------

    def _build_silver_pipeline(self) -> Pipeline:
        p = Pipeline(self.spark, os.path.join(self.storage_root, "silver"))
        lake = self

        # staging views (reference :12-24, :39-51, :67-77, :93-104)
        @p.view(name="bookings_raw", expectations=BOOKING_RULES)
        def bookings_raw(pl: Pipeline) -> DataFrame:
            return (
                lake._bronze("bookings")
                .withColumn("amount", F.col("amount").cast("double"))
                .withColumn("booking_date", F.to_date("booking_date"))
                .withColumn("modifiedDate", F.col(INGEST_TIME_COL))
                .drop(RESCUE_COL, INGEST_TIME_COL, INGEST_FILE_COL)
            )

        @p.view(name="flights_raw")
        def flights_raw(pl: Pipeline) -> DataFrame:
            return (
                lake._bronze("flights")
                .withColumn("flight_date", F.to_date("flight_date"))
                .withColumn("modifiedDate", F.col(INGEST_TIME_COL))
                .drop(RESCUE_COL, INGEST_TIME_COL, INGEST_FILE_COL)
            )

        @p.view(name="customers_raw")
        def customers_raw(pl: Pipeline) -> DataFrame:
            return (
                lake._bronze("customers")
                .withColumn("modifiedDate", F.col(INGEST_TIME_COL))
                .drop(RESCUE_COL, INGEST_TIME_COL, INGEST_FILE_COL)
            )

        @p.view(name="airports_raw")
        def airports_raw(pl: Pipeline) -> DataFrame:
            return (
                lake._bronze("airports")
                .withColumn("modifiedDate", F.col(INGEST_TIME_COL))
                .drop(RESCUE_COL, INGEST_TIME_COL, INGEST_FILE_COL)
            )

        # SCD1 streaming tables + CDC flows (reference :27-36, :54-64,
        # :80-90, :107-117)
        for table, source, keys in [
            ("bookings_silver", "bookings_raw", ["booking_id"]),
            ("flights_silver", "flights_raw", ["flight_id"]),
            ("customers_silver", "customers_raw", ["passenger_id"]),
            ("airports_silver", "airports_raw", ["airport_id"]),
        ]:
            p.create_streaming_table(table)
            p.create_auto_cdc_flow(
                target=table, source=source, keys=keys, sequence_by="modifiedDate"
            )

        # joined business view (reference :121-133)
        @p.view(name="business_silver")
        def business_silver(pl: Pipeline) -> DataFrame:
            return (
                pl.read("bookings_silver")
                .drop("modifiedDate")
                .join(pl.read("flights_silver").drop("modifiedDate"), "flight_id")
                .join(pl.read("customers_silver").drop("modifiedDate"), "passenger_id")
                .join(pl.read("airports_silver").drop("modifiedDate"), "airport_id")
            )

        return p

    # -- gold ---------------------------------------------------------------

    def _gold_table(self, name: str) -> ManagedParquetTable:
        return ManagedParquetTable(self.spark, os.path.join(self.gold_root, name))

    DIMS = {
        "DimFlights": DimConfig("DimFlights", ["flight_id"], "DimFlightsKey"),
        "DimCustomers": DimConfig("DimCustomers", ["passenger_id"], "DimCustomersKey"),
        "DimAirports": DimConfig("DimAirports", ["airport_id"], "DimAirportsKey"),
    }
    DIM_SOURCES = {
        "DimFlights": "flights_silver",
        "DimCustomers": "customers_silver",
        "DimAirports": "airports_silver",
    }

    def build_one_dim(self, name: str, clock: dt.datetime | None = None) -> None:
        """Build a single gold dimension from its silver source — the
        unit `run_all` schedules as soon as THAT silver table is upserted
        (a dim's only upstream)."""
        build_dim(
            self.silver.read(self.DIM_SOURCES[name]),
            self._gold_table(name),
            self.DIMS[name],
            clock,
        )

    def build_fact_table(self, clock: dt.datetime | None = None) -> None:
        """Build the fact AFTER every dim exists (it joins all three
        surrogate mappings — the one true barrier in the gold DAG)."""
        fact_cfg = FactConfig(
            name="Fact_Bookings",
            grain_keys=["booking_id"],
            measures=["amount", "booking_date"],
            dims=[
                FactDimSpec(
                    self._gold_table("DimCustomers"),
                    {"passenger_id": "passenger_id"},
                    "DimCustomersKey",
                ),
                FactDimSpec(
                    self._gold_table("DimFlights"), {"flight_id": "flight_id"}, "DimFlightsKey"
                ),
                FactDimSpec(
                    self._gold_table("DimAirports"), {"airport_id": "airport_id"}, "DimAirportsKey"
                ),
            ],
        )
        build_fact(
            self.silver.read("bookings_silver"),
            self._gold_table("Fact_Bookings"),
            fact_cfg,
            clock=clock,
        )

    def run_all(self, clock: dt.datetime | None = None) -> None:
        """Raw → bronze → silver → gold in one call (one 'job run'), as
        one `run_graph`: the bronze drains and silver run of
        `silver_graph`, each gold dimension as soon as its own silver
        table is upserted, and the fact once every dimension and
        ``bookings_silver`` are. The silver finalize (quarantine appends,
        expectation metrics and event log, which gold never reads) waits
        only on the silver flows, so it overlaps the gold builds. Returns
        once every task has, so a following run observes a fully closed
        batch."""
        tasks = self.silver_graph(clock)
        for dim, source in self.DIM_SOURCES.items():
            tasks[f"gold:{dim}"] = (
                lambda d=dim: self.build_one_dim(d, clock), [f"flow:{source}"]
            )
        tasks["gold:Fact_Bookings"] = (
            lambda: self.build_fact_table(clock),
            [*(f"gold:{d}" for d in self.DIMS), "flow:bookings_silver"],
        )
        run_graph(tasks)


# ---------------------------------------------------------------------------
# registry query: end-to-end medallion replay, golden-oracle checked
# ---------------------------------------------------------------------------

import tempfile  # noqa: E402

from databricks_end_to_end_lakeflow_project_spark.registry import query
from databricks_end_to_end_lakeflow_project_spark.sources.scratch import ephemeral_dir  # noqa: E402
from databricks_end_to_end_lakeflow_project_spark.sources import flight_fixtures  # noqa: E402

_T1 = dt.datetime(2025, 8, 1, 0, 0, 0)
_T2 = dt.datetime(2025, 8, 2, 0, 0, 0)


def _expected_dim_airports_values() -> str:
    """Golden final state of DimAirports after base→scd replay, derived
    from the deterministic fixture formulas: scd attributes win for
    changed keys, surrogates are 1..50 in airport_id order, create_date
    from run 1, update/modified dates reflect the reprocessing run."""
    rows = []
    for i in range(1, 51):
        scd = i in flight_fixtures.AIRPORT_SCD_IDS
        aid, name, city, country = flight_fixtures.airport_row(i, scd=scd)
        modified = _T2 if scd else _T1
        rows.append(
            f"('{aid}', '{name}', '{city}', '{country}', {i}, "
            f"TIMESTAMP '{_T1}', TIMESTAMP '{_T2}', TIMESTAMP '{modified}')"
        )
    return ",\n      ".join(rows)


DIM_AIRPORTS_GOLDEN_ORACLE = f"""
    SELECT * FROM (VALUES
      {_expected_dim_airports_values()}
    ) AS t(airport_id, airport_name, city, country, DimAirportsKey,
           create_date, update_date, modifiedDate)
"""


@query("pipeline_medallion_scd_replay", DIM_AIRPORTS_GOLDEN_ORACLE)
def pipeline_medallion_scd_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full medallion replay (ignores sf_dir — input is the deterministic
    flight fixture set): base load then SCD drop, two complete
    raw→bronze→silver→gold runs, returning the final DimAirports state.
    Hash-checked against a golden VALUES oracle, so this single query
    verifies ingest checkpointing, expectations, SCD1 CDC, surrogate
    assignment, and audit-column semantics end to end."""
    from databricks_end_to_end_lakeflow_project_spark.streaming.structured import sized_session

    root = ephemeral_dir("flight_demo_")
    raw = os.path.join(root, "raw")
    # the replay executes eagerly (availableNow drains + upserts) on an
    # isolated clone sized from the rows it ingests
    eager = sized_session(spark, flight_fixtures.write_base(raw))
    lake = FlightLakehouse(eager, raw, os.path.join(root, "lake"))
    lake.run_all(clock=_T1)
    flight_fixtures.write_scd(raw)
    lake.run_all(clock=_T2)
    return lake._gold_table("DimAirports").read().select(
        "airport_id", "airport_name", "city", "country", "DimAirportsKey",
        "create_date", "update_date", "modifiedDate",
    )


# ---------------------------------------------------------------------------
# the 4-way join AS STREAMS — the reference's business_silver as written
# (dlt_bronze_to_silver_pipeline.py:127-131 composes four STREAMING reads)
# ---------------------------------------------------------------------------


def business_silver_stream(lake: FlightLakehouse) -> DataFrame:
    """`business_silver` in its streaming form: three CHAINED watermarked
    stream-stream joins over the four silver streams, drained with
    availableNow — the reference's J1 as written
    (`dlt_bronze_to_silver_pipeline.py:127-131`), where the batch view
    (`silver` DAG above) is the SURVEY §7 first-step equivalent.

    The reference's joins are bare equi-joins; an unbounded stream-stream
    equi-join can never evict state. Here every side carries a 1-hour
    watermark on its CDC stamp and every join adds the ±1-day
    co-arrival constraint `other.modifiedDate BETWEEN booking.modifiedDate
    - 1 day AND + 1 day` — the standard production bounding: state per
    side is (watermark + interval) of data, not the whole stream, and for
    any batch where dimensions arrive with their facts (the replay
    fixture and any daily-loaded lakehouse) the result is row-identical
    to the batch view (pinned by `tests/test_flight_pipeline.py`).

    Returns the DRAINED join as a batch DataFrame (memory-sink
    verification harness, like the other stream queries). The sink's name
    is constant: each drain runs on its own `sized_session` clone, whose
    query manager and temp views no other drain shares."""
    from databricks_end_to_end_lakeflow_project_spark.streaming.structured import run_to_memory

    sides = {t: lake.silver.table(t) for t in SILVER_TABLES}

    def build(s: SparkSession) -> DataFrame:
        # each side streams the table's current files on the session
        # run_to_memory hands in (conf overrides bind to a cloned
        # session; lake.spark's conf is never mutated)
        def side(table: str, md: str) -> DataFrame:
            return (
                sides[table]
                .read_stream(s)
                .withColumnRenamed("modifiedDate", md)
                .withWatermark(md, "1 hour")
            )

        b = side("bookings_silver", "b_md")
        f = side("flights_silver", "f_md")
        c = side("customers_silver", "c_md")
        a = side("airports_silver", "a_md")

        def co_arrival(md: str):
            return F.expr(
                f"{md} BETWEEN b_md - INTERVAL 1 DAY AND b_md + INTERVAL 1 DAY"
            )

        return (
            b.join(f, (b["flight_id"] == f["flight_id"]) & co_arrival("f_md"))
            .drop(f["flight_id"])
            .join(c, (b["passenger_id"] == c["passenger_id"]) & co_arrival("c_md"))
            .drop(c["passenger_id"])
            .join(a, (b["airport_id"] == a["airport_id"]) & co_arrival("a_md"))
            .drop(a["airport_id"])
            .drop("b_md", "f_md", "c_md", "a_md")
        )

    # INNER stream-stream joins emit every match in the data batch where
    # both sides are present; the trailing no-data micro-batch only
    # advances the watermark to EVICT state — it can't add or change
    # output rows. A drain-and-discard pass doesn't need the eviction
    # sweep, so skip it: at fixture scale the empty batch costs as much
    # as the data batch (full queryPlanning + 6 state-store commit
    # rounds for zero rows). A LEFT OUTER join would need it back on —
    # null-padded rows emit on eviction.
    return run_to_memory(
        build,
        "bizsilver",
        input_rows=sum(t.rows() for t in sides.values()),
        extra_conf={"spark.sql.streaming.noDataMicroBatches.enabled": "false"},
        spark=lake.spark,
    )


def _expected_business_silver_values() -> str:
    """Golden per-airport rollup of the base-run business_silver join,
    derived from the fixture formulas (`flight_fixtures.booking_row`):
    a booking joins iff its passenger id ≤ 200 (the fixture plants
    P0201-P0205 references to exercise inner-join drops); flight and
    airport keys always resolve."""
    from collections import defaultdict

    agg: dict[int, list] = defaultdict(lambda: [0, 0, set(), set()])
    for i in range(1, 1001):
        pid = 1 + (i * 7) % 205
        if pid > 200:
            continue
        aid = 1 + (i * 5) % 50
        a = agg[aid]
        a[0] += 1
        a[1] += (100 + (i * 17) % 900) * 100 + i % 100
        a[2].add(1 + (i * 3) % 100)
        a[3].add(pid)
    rows = [
        f"('A{aid:03d}', {v[0]}, {v[1]}, {len(v[2])}, {len(v[3])})"
        for aid, v in sorted(agg.items())
    ]
    return ",\n      ".join(rows)


STREAM_BUSINESS_ORACLE = f"""
    SELECT * FROM (VALUES
      {_expected_business_silver_values()}
    ) AS t(airport_id, n_bookings, total_cents, n_flights, n_passengers)
    ORDER BY airport_id
"""


@query("stream_business_silver", STREAM_BUSINESS_ORACLE)
def stream_business_silver(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end STREAMING business_silver (ignores sf_dir — input is
    the deterministic flight fixture base set): raw→bronze→silver once,
    then the three chained watermarked stream-stream joins over the four
    silver streams (`business_silver_stream`), rolled up per airport.
    Hash-checked against a golden VALUES oracle computed from the
    fixture formulas — the one reference behavior (J1 as literal stream
    composition) the batch `pipeline_medallion_scd_replay` doesn't
    exercise."""
    root = ephemeral_dir("flight_stream_")
    raw = os.path.join(root, "raw")
    # The whole eager section runs on an isolated clone sized from the
    # rows it ingests (the caller's conf is never mutated), and the join
    # waits only on the silver flows, so the silver finalize
    # (quarantine/event log, which the join never reads) overlaps the
    # stream drain. The golden VALUES oracle pins the rows.
    from databricks_end_to_end_lakeflow_project_spark.streaming.structured import sized_session

    eager = sized_session(spark, flight_fixtures.write_base(raw))
    lake = FlightLakehouse(eager, raw, os.path.join(root, "lake"))
    tasks = lake.silver_graph(clock=_T1)
    tasks["stream"] = (lambda: business_silver_stream(lake), [f"flow:{t}" for t in SILVER_TABLES])
    rows = run_graph(tasks)["stream"]
    return (
        rows.groupBy("airport_id")
        .agg(
            F.count(F.lit(1)).alias("n_bookings"),
            F.sum(F.round(F.col("amount") * 100).cast("long")).alias("total_cents"),
            F.countDistinct("flight_id").alias("n_flights"),
            F.countDistinct("passenger_id").alias("n_passengers"),
        )
        .orderBy("airport_id")
    )
