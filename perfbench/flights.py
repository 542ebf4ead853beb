"""Seeded flight-domain generator for the ``medallion_refresh`` workload.

It scales the reference's four entities (airports, flights, customers,
bookings) to benchmark size and lands them as CSV files, one directory per
entity, in the layout ``FlightLakehouse`` ingests. A *history* batch is
landed first; each *increment* then adds new bookings, a few new keys per
dimension, attribute changes (SCD1) on about 2% of each dimension's keys,
and four null-key bookings (one per expectation rule).

:class:`FlightSim` also keeps the state the lake must reach after every
``run_all``, so the runner can check gold against it:

- each dimension key maps to its last-written attributes and to a dense
  surrogate key (keys new in a run are numbered after the previous maximum,
  in business-key order);
- the fact holds exactly the valid bookings;
- the silver expectations drop exactly the planted null-key rows.

Sizes are fixed by the constructor, and the seed only picks values, so two
seeds cost the same work.
"""

from __future__ import annotations

import csv
import os
from dataclasses import dataclass, field

import numpy as np

AIRLINES = ["Delta", "Qatar Airways", "Lufthansa", "IndiGo", "Jet Airways", "Emirates"]
CITIES = [f"City{i:02d}" for i in range(40)]
COUNTRIES = [f"Country{i:02d}" for i in range(25)]
NATIONALITIES = [f"Nation{i:02d}" for i in range(20)]

HEADERS = {
    "airports": ["airport_id", "airport_name", "city", "country"],
    "flights": ["flight_id", "airline", "origin", "destination", "flight_date"],
    "customers": ["passenger_id", "name", "gender", "nationality"],
    "bookings": ["booking_id", "passenger_id", "flight_id", "airport_id", "amount", "booking_date"],
}
# gold dimension name -> (entity, business key)
DIMS = {
    "DimAirports": ("airports", "airport_id"),
    "DimFlights": ("flights", "flight_id"),
    "DimCustomers": ("customers", "passenger_id"),
}


@dataclass
class Sizes:
    airports: int = 200
    flights: int = 1_000
    customers: int = 4_000
    bookings: int = 20_000
    inc_bookings: int = 1_000
    new_key_share: float = 0.01  # new dimension keys per increment
    scd_share: float = 0.02  # changed dimension keys per increment


@dataclass
class FlightSim:
    """Lands seeded CSV batches and tracks the lake's expected state."""

    raw_root: str
    seed: int
    sizes: Sizes = field(default_factory=Sizes)

    def __post_init__(self) -> None:
        self.rng = np.random.default_rng(self.seed)
        self.batch = 0
        # entity -> {business key: attribute tuple}, last writer wins
        self.dims: dict[str, dict[str, tuple]] = {e: {} for e, _ in DIMS.values()}
        # entity -> {business key: surrogate key}
        self.surrogates: dict[str, dict[str, int]] = {e: {} for e, _ in DIMS.values()}
        self.bookings: dict[str, tuple] = {}  # valid bookings only
        self.null_key_rows = 0
        self._next = {"airports": 1, "flights": 1, "customers": 1, "bookings": 1}

    # -- row makers ----------------------------------------------------------

    def _ids(self, entity: str, n: int) -> list[int]:
        start = self._next[entity]
        self._next[entity] = start + n
        return list(range(start, start + n))

    def _airport(self, i: int) -> tuple:
        c, k = self.rng.integers(len(CITIES)), self.rng.integers(len(COUNTRIES))
        return (f"A{i:05d}", f"Airport {i:05d} Intl", CITIES[c], COUNTRIES[k])

    def _flight(self, i: int) -> tuple:
        a, o, d = self.rng.integers(len(AIRLINES)), *self.rng.integers(len(CITIES), size=2)
        m, day = self.rng.integers(1, 13), self.rng.integers(1, 29)
        return (f"F{i:06d}", AIRLINES[a], CITIES[o], CITIES[d], f"2025-{m:02d}-{day:02d}")

    def _customer(self, i: int) -> tuple:
        n = self.rng.integers(len(NATIONALITIES))
        return (f"P{i:07d}", f"Passenger {i:07d}", "Male" if i % 2 else "Female", NATIONALITIES[n])

    def _changed(self, entity: str, row: tuple) -> tuple:
        """``row`` with its SCD attribute redrawn (city / airline /
        nationality)."""
        if entity == "airports":
            return (*row[:2], CITIES[self.rng.integers(len(CITIES))], row[3])
        if entity == "flights":
            return (row[0], AIRLINES[self.rng.integers(len(AIRLINES))], *row[2:])
        return (*row[:3], NATIONALITIES[self.rng.integers(len(NATIONALITIES))])

    def _bookings(self, n: int, dims: dict[str, list[str]]) -> list[tuple]:
        """``n`` new bookings whose foreign keys are drawn from ``dims``."""
        p = self.rng.integers(len(dims["customers"]), size=n)
        f = self.rng.integers(len(dims["flights"]), size=n)
        a = self.rng.integers(len(dims["airports"]), size=n)
        cents = self.rng.integers(10_000, 200_000, size=n)
        dates = np.datetime64("2025-01-01") + self.rng.integers(0, 365, size=n)
        return [
            (
                f"B{i:09d}",
                dims["customers"][p[j]],
                dims["flights"][f[j]],
                dims["airports"][a[j]],
                f"{cents[j] // 100}.{cents[j] % 100:02d}",
                str(dates[j]),
            )
            for j, i in enumerate(self._ids("bookings", n))
        ]

    def _null_key_rows(self, dims: dict[str, list[str]]) -> list[tuple]:
        """One booking per expectation rule, with that rule's key empty
        (CSV reads an empty field as NULL)."""
        b = f"BNULL{self.batch:04d}"
        c, f, a = dims["customers"][0], dims["flights"][0], dims["airports"][0]
        return [
            ("", c, f, a, "100.00", "2025-04-01"),
            (f"{b}1", "", f, a, "100.00", "2025-04-01"),
            (f"{b}2", c, "", a, "100.00", "2025-04-01"),
            (f"{b}3", c, f, "", "100.00", "2025-04-01"),
        ]

    # -- batches -------------------------------------------------------------

    def _land(self, rows: dict[str, list[tuple]]) -> int:
        """Write one CSV per entity for this batch; returns rows landed."""
        landed = 0
        for entity, entity_rows in rows.items():
            path = os.path.join(self.raw_root, entity, f"batch_{self.batch:04d}.csv")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w", newline="") as fh:
                w = csv.writer(fh)
                w.writerow(HEADERS[entity])
                w.writerows(entity_rows)
            landed += len(entity_rows)
        self.batch += 1
        return landed

    def _apply(self, rows: dict[str, list[tuple]]) -> None:
        """Advance the expected state by one landed batch."""
        for entity, _key in DIMS.values():
            batch = {r[0]: r for r in rows[entity]}
            fresh = sorted(k for k in batch if k not in self.dims[entity])
            top = len(self.surrogates[entity])
            for n, k in enumerate(fresh, start=1):
                self.surrogates[entity][k] = top + n
            self.dims[entity].update(batch)
        for r in rows["bookings"]:
            if all(r[:4]):
                self.bookings[r[0]] = r
            else:
                self.null_key_rows += 1

    def revenue_by_airport(self) -> dict[str, tuple[int, int]]:
        """Expected answer of the gold serving query: valid bookings and
        their revenue in cents, per airport."""
        out: dict[str, tuple[int, int]] = {}
        for _b, _p, _f, airport, amount, _d in self.bookings.values():
            n, cents = out.get(airport, (0, 0))
            whole, frac = amount.split(".")
            out[airport] = (n + 1, cents + int(whole) * 100 + int(frac))
        return out

    def _with_bookings(self, rows: dict[str, list[tuple]], n: int) -> int:
        """Add ``n`` bookings (plus the null-key rows) over every dimension
        key known after this batch, then land the batch."""
        dims = {e: sorted({*self.dims[e], *(r[0] for r in rows[e])}) for e in self.dims}
        rows["bookings"] = self._bookings(n, dims) + self._null_key_rows(dims)
        self._apply(rows)
        return self._land(rows)

    def land_history(self) -> int:
        """Land the initial full load; returns rows landed."""
        s = self.sizes
        rows = {
            "airports": [self._airport(i) for i in self._ids("airports", s.airports)],
            "flights": [self._flight(i) for i in self._ids("flights", s.flights)],
            "customers": [self._customer(i) for i in self._ids("customers", s.customers)],
        }
        return self._with_bookings(rows, s.bookings)

    def land_increment(self) -> int:
        """Land one increment; returns rows landed."""
        s = self.sizes
        makers = {"airports": self._airport, "flights": self._flight, "customers": self._customer}
        rows: dict[str, list[tuple]] = {}
        for entity, make in makers.items():
            existing = sorted(self.dims[entity])
            n_scd = max(1, round(len(existing) * s.scd_share))
            picked = sorted(self.rng.choice(len(existing), size=n_scd, replace=False))
            changed = [self._changed(entity, self.dims[entity][existing[j]]) for j in picked]
            n_new = max(1, round(len(existing) * s.new_key_share))
            rows[entity] = changed + [make(i) for i in self._ids(entity, n_new)]
        return self._with_bookings(rows, s.inc_bookings)
