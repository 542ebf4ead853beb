"""Deterministic flight-domain CSV fixtures mirroring FIXTURES.md:
base / _increment (new business keys) / _scd (changed rows for existing
keys) per entity, at the reference's sizes (airports 50/5/6, flights
100/10/8, passengers 200/20/15, bookings 1000/300).

Purely formulaic (no RNG) so golden assertions are stable.
"""

from __future__ import annotations

import csv
import os

AIRLINES = ["Delta", "Qatar Airways", "Lufthansa", "IndiGo", "Jet Airways", "Emirates"]
CITIES = [f"City{i:02d}" for i in range(30)]
COUNTRIES = [f"Country{i:02d}" for i in range(20)]
NATIONALITIES = [f"Nation{i:02d}" for i in range(15)]


def _write(path: str, header: list[str], rows: list[tuple]) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(header)
        w.writerows(rows)
    return len(rows)


def airport_row(i: int, scd: bool = False) -> tuple:
    city = CITIES[(i + (7 if scd else 0)) % len(CITIES)]
    country = COUNTRIES[(i + (3 if scd else 0)) % len(COUNTRIES)]
    return (f"A{i:03d}", f"Airport {i:03d} Intl", city, country)


def flight_row(i: int, scd: bool = False) -> tuple:
    airline = AIRLINES[(i + (2 if scd else 0)) % len(AIRLINES)]
    return (
        f"F{i:04d}",
        airline,
        CITIES[i % len(CITIES)],
        CITIES[(i + 11) % len(CITIES)],
        f"2025-0{4 + i % 4}-{1 + i % 28:02d}",
    )


def passenger_row(i: int, scd: bool = False) -> tuple:
    nat = NATIONALITIES[(i + (5 if scd else 0)) % len(NATIONALITIES)]
    return (f"P{i:04d}", f"Passenger {i:04d}", "Male" if i % 2 else "Female", nat)


def booking_row(i: int) -> tuple:
    # passenger ids intentionally run past the dim (P0201..P0205 region)
    # for some rows → exercises unmatched LEFT JOIN / null surrogate keys
    pid = 1 + (i * 7) % 205
    return (
        f"B{i:05d}",
        f"P{pid:04d}",
        f"F{1 + (i * 3) % 100:04d}",
        f"A{1 + (i * 5) % 50:03d}",
        f"{100 + (i * 17) % 900}.{i % 100:02d}",
        f"2025-0{4 + i % 4}-{1 + i % 28:02d}",
    )


AIRPORT_HDR = ["airport_id", "airport_name", "city", "country"]
FLIGHT_HDR = ["flight_id", "airline", "origin", "destination", "flight_date"]
PASSENGER_HDR = ["passenger_id", "name", "gender", "nationality"]
BOOKING_HDR = ["booking_id", "passenger_id", "flight_id", "airport_id", "amount", "booking_date"]

# business keys with changed attributes in the _scd variant
AIRPORT_SCD_IDS = [3, 9, 17, 23, 31, 42]
FLIGHT_SCD_IDS = [3, 8, 21, 34, 55, 60, 77, 89]
PASSENGER_SCD_IDS = [2, 5, 19, 23, 47, 58, 77, 101, 120, 133, 150, 161, 170, 188, 199]


def write_base(raw_root: str, n_bad_bookings: int = 4) -> int:
    """Write the base CSVs; returns the number of data rows written."""
    n = _write(
        os.path.join(raw_root, "airports", "base.csv"),
        AIRPORT_HDR,
        [airport_row(i) for i in range(1, 51)],
    )
    n += _write(
        os.path.join(raw_root, "flights", "base.csv"),
        FLIGHT_HDR,
        [flight_row(i) for i in range(1, 101)],
    )
    n += _write(
        os.path.join(raw_root, "customers", "base.csv"),
        PASSENGER_HDR,
        [passenger_row(i) for i in range(1, 201)],
    )
    bookings = [booking_row(i) for i in range(1, 1001)]
    # expectation-violating rows: null business keys, one per rule
    bad = [
        ("", "P0001", "F0001", "A001", "100.00", "2025-04-01"),
        ("B99991", "", "F0001", "A001", "100.00", "2025-04-01"),
        ("B99992", "P0001", "", "A001", "100.00", "2025-04-01"),
        ("B99993", "P0001", "F0001", "", "100.00", "2025-04-01"),
    ][:n_bad_bookings]
    return n + _write(
        os.path.join(raw_root, "bookings", "base.csv"), BOOKING_HDR, bookings + bad
    )


def write_increment(raw_root: str) -> None:
    _write(
        os.path.join(raw_root, "airports", "increment.csv"),
        AIRPORT_HDR,
        [airport_row(i) for i in range(51, 56)],
    )
    _write(
        os.path.join(raw_root, "flights", "increment.csv"),
        FLIGHT_HDR,
        [flight_row(i) for i in range(101, 111)],
    )
    _write(
        os.path.join(raw_root, "customers", "increment.csv"),
        PASSENGER_HDR,
        [passenger_row(i) for i in range(201, 221)],
    )
    _write(
        os.path.join(raw_root, "bookings", "increment.csv"),
        BOOKING_HDR,
        [booking_row(i) for i in range(1001, 1301)],
    )


def write_scd(raw_root: str) -> None:
    _write(
        os.path.join(raw_root, "airports", "scd.csv"),
        AIRPORT_HDR,
        [airport_row(i, scd=True) for i in AIRPORT_SCD_IDS],
    )
    _write(
        os.path.join(raw_root, "flights", "scd.csv"),
        FLIGHT_HDR,
        [flight_row(i, scd=True) for i in FLIGHT_SCD_IDS],
    )
    _write(
        os.path.join(raw_root, "customers", "scd.csv"),
        PASSENGER_HDR,
        [passenger_row(i, scd=True) for i in PASSENGER_SCD_IDS],
    )
