"""The benchmark's traced runs wrap the package's entry points by name
(`perfbench/workloads.py::instrument`). A renamed or removed entry point
fails every ``--trace 1`` run, so this resolves each name the way the
tracer does, without patching anything."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

WORKLOADS = Path(__file__).resolve().parent.parent / "perfbench" / "workloads.py"


class _ResolvingTracer:
    """Looks up ``owner.attr`` like `perfbench/tracer.py::Tracer.wrap`:
    a class's own attribute, else any attribute of a module."""

    def __init__(self) -> None:
        self.wrapped: list[tuple[str, str]] = []

    def wrap(self, owner, attr: str, name: str) -> None:
        fn = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        assert callable(fn), (owner, attr)
        self.wrapped.append((attr, name))


def test_every_name_the_benchmark_traces_exists(monkeypatch):
    spec = importlib.util.spec_from_file_location("perfbench_workloads", WORKLOADS)
    workloads = importlib.util.module_from_spec(spec)
    monkeypatch.setitem(sys.modules, spec.name, workloads)  # for its dataclasses
    spec.loader.exec_module(workloads)
    tracer = _ResolvingTracer()
    workloads.instrument(tracer)
    assert {attr for attr, _ in tracer.wrapped} >= {
        "resolve_flow", "execute_flow", "finalize_run", "build_one_dim",
        "build_fact_table", "start_ingest_csv_stream", "drain_ingest_stream",
        "upsert", "append", "overwrite",
    }
