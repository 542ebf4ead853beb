"""Tests for the benchmark's own code: input generators, the expected lake
state, metric names and the tracer's span arithmetic.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import re
import threading
from pathlib import Path

import pytest

from flights import FlightSim, Sizes
from run import layer_metrics
from tables import make_tables
from tracer import Span, Tracer, self_time

SPEC = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
TINY = Sizes(airports=6, flights=12, customers=30, bookings=80, inc_bookings=20)


def _files(root: Path) -> dict[str, bytes]:
    return {str(p.relative_to(root)): p.read_bytes() for p in sorted(root.rglob("*.csv"))}


def _landed(root: Path, seed: int) -> dict[str, bytes]:
    sim = FlightSim(str(root), seed, TINY)
    sim.land_history()
    sim.land_increment()
    return _files(root)


def test_flight_generator_is_deterministic_per_seed(tmp_path):
    a, b, c = (_landed(tmp_path / n, s) for n, s in [("a", 7), ("b", 7), ("c", 8)])
    assert a == b
    assert a != c
    assert a.keys() == c.keys()
    lines = lambda files: {k: v.count(b"\n") for k, v in files.items()}  # noqa: E731
    assert lines(a) == lines(c)  # the seed picks values, not sizes


def test_table_generator_is_deterministic_per_seed():
    a, b, c = make_tables(3, 0.05), make_tables(3, 0.05), make_tables(4, 0.05)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert {t: a[t].num_rows for t in a} == {t: c[t].num_rows for t in c}


def test_expected_state_tracks_surrogates_and_null_keys(tmp_path):
    sim = FlightSim(str(tmp_path), 1, TINY)
    sim.land_history()
    assert sim.null_key_rows == 4
    assert sorted(sim.surrogates["airports"].values()) == list(range(1, TINY.airports + 1))
    before = dict(sim.surrogates["airports"])
    sim.land_increment()
    after = sim.surrogates["airports"]
    assert sim.null_key_rows == 8
    assert {k: after[k] for k in before} == before  # existing keys keep theirs
    assert sorted(after.values()) == list(range(1, len(after) + 1))  # dense and unique
    assert len(sim.bookings) == TINY.bookings + TINY.inc_bookings


def test_expected_state_matches_a_tiny_run_all(tmp_path):
    import datetime as dt

    from databricks_end_to_end_lakeflow_project_spark.plans.flight_pipeline import FlightLakehouse
    from databricks_end_to_end_lakeflow_project_spark.session import get_spark
    from workloads import T0, check_lake, gold_revenue

    spark = get_spark("perfbench-tests", cpus=2, shuffle_partitions=2)
    try:
        sim = FlightSim(str(tmp_path / "raw"), 5, TINY)
        lake = FlightLakehouse(spark, sim.raw_root, str(tmp_path / "lake"))
        sim.land_history()
        lake.run_all(clock=T0)
        sim.land_increment()
        lake.run_all(clock=T0 + dt.timedelta(days=sim.batch))
        assert check_lake(spark, lake, sim) == []
        assert gold_revenue(spark, lake) == sim.revenue_by_airport()
    finally:
        spark.stop()


def test_metric_names_and_units_are_well_formed():
    name = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
    unit = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    names += [w["name"] for w in SPEC["workloads"]]
    assert len(names) == len(set(names))
    assert all(name.fullmatch(n) for n in names)
    assert all(unit.fullmatch(m["unit"]) for m in SPEC["end_to_end"] + SPEC["per_layer"])
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in SPEC["end_to_end"])


def test_every_workload_is_defined_and_every_query_has_an_oracle():
    from databricks_end_to_end_lakeflow_project_spark import registry
    from workloads import QUERY_MIXES

    assert {w["name"] for w in SPEC["workloads"]} == {"medallion_refresh", *QUERY_MIXES}
    oracles = registry.all_oracles()
    assert all(oracles.get(n) for names in QUERY_MIXES.values() for n in names)


def test_layer_metrics_report_every_per_layer_name():
    record = {
        "op_wall_s": 2.0, "spark.task_s": 4.0, "spark.input_rows": 300.0, "landed_rows": 100,
        "spark.output_bytes": 50.0, "landed_bytes": 25, "registry.build_s": 0.5,
        "operators.cdc.commit.count": 3,
    }
    got = layer_metrics([record], SPEC["per_layer"], cpus=4)
    assert list(got) == [m["name"] for m in SPEC["per_layer"]]
    assert got["spark.slot_util"]["value"] == pytest.approx(0.5)
    assert got["spark.read_amp"]["value"] == pytest.approx(3.0)
    assert got["spark.write_amp"]["value"] == pytest.approx(2.0)
    assert got["registry.build_share"]["value"] == pytest.approx(0.25)
    assert got["operators.cdc.commits"]["value"] == 3


def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", start, end, parent, "main")


def test_self_time_clips_and_merges_children():
    parent = _span(1, 0.0, 10.0)
    kids = [_span(2, 1.0, 3.0, 1), _span(3, 2.0, 4.0, 1), _span(4, 9.0, 12.0, 1), _span(5, 5.0, 5.0, 1)]
    assert self_time(parent, kids) == pytest.approx(10.0 - 3.0 - 1.0)
    assert self_time(parent, []) == pytest.approx(10.0)


def test_tracer_parents_layers_and_restores():
    class Box:
        def outer(self):
            return self.inner() + self.inner()

        def inner(self):
            return 1

    tracer = Tracer()
    tracer.wrap(Box, "outer", "layer.outer")
    tracer.wrap(Box, "inner", "layer.inner")
    worker = threading.Thread(target=lambda: tracer.call("layer.worker", Box().inner))

    def op():
        worker.start()
        worker.join(timeout=10)
        return Box().outer()

    assert tracer.root("op", op) == 2
    assert not worker.is_alive()
    by_name = {}
    for s in tracer.spans:
        by_name.setdefault(s.name, []).append(s)
    root = by_name["op"][0]
    assert by_name["layer.outer"][0].parent == root.id
    assert by_name["layer.worker"][0].parent == root.id  # other thread, open root
    assert {s.parent for s in by_name["layer.inner"]} >= {by_name["layer.outer"][0].id}
    layers = tracer.layers()
    assert layers["layer.inner"][1] == 3  # two from outer, one from the worker
    assert layers["layer.outer"][1] == 1
    tracer.restore()
    assert Box.outer.__name__ == "outer" and not hasattr(Box.outer, "__wrapped__")
    n = len(tracer.spans)
    Box().outer()
    assert len(tracer.spans) == n
