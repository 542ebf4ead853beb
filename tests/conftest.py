from __future__ import annotations

import sys
from pathlib import Path

import pytest

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from databricks_end_to_end_lakeflow_project_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def arrow_frame(spark, rows: list, schema: str):
    """``spark.createDataFrame(rows, schema)`` with the same rows in the
    same input partitions, shipped to the JVM as Arrow batches. A frame
    built from a Python list is a Python-worker stage that runs again
    every time a plan over it is evaluated; in the property tests, which
    fold and re-collect many small frames, that stage was most of the
    wall. The partition layout is kept so those tests still merge
    partial results across partitions: ``parallelize`` pickles rows in
    batches of ``max(1, min(n // p, 1024))`` and slices the batches
    evenly over ``p = defaultParallelism`` partitions; here each slice
    becomes one Arrow batch, which Spark turns into one partition. An
    empty frame is an empty RDD, as a list-built one is, not the empty
    LocalRelation Arrow would make and the optimizer would fold away."""
    import pyarrow as pa

    if not rows:
        return spark.createDataFrame(spark.sparkContext.emptyRDD(), schema)
    names = [c.split()[0] for c in schema.split(",")]
    data = pa.table({n: pa.array(list(c)) for n, c in zip(names, zip(*rows))})
    n, p = len(rows), spark.sparkContext.defaultParallelism
    size = max(1, min(n // p, 1024))
    chunks = -(-n // size)
    cuts = [min(i * chunks // p * size, n) for i in range(p + 1)]
    data = pa.concat_tables([data.slice(a, b - a) for a, b in zip(cuts, cuts[1:]) if b > a])
    # below this size Spark would re-slice the rows into a LocalRelation
    conf, key = spark.conf, "spark.sql.execution.arrow.localRelationThreshold"
    old = conf.get(key)
    conf.set(key, "0")
    try:
        return spark.createDataFrame(data, schema)
    finally:
        conf.set(key, old)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("lakeflow-tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE
