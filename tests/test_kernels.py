"""The exact-fold kernel module: `fold_dot` against the pure-Python fold,
`map_kernel`'s schema and row handling, and SemDeDup's in-kernel
re-verify against the interpreted `cosine` re-verify."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from databricks_end_to_end_lakeflow_project_spark.operators import similarity
from databricks_end_to_end_lakeflow_project_spark.operators.kernels import (
    fold_dot,
    map_kernel,
)
from databricks_end_to_end_lakeflow_project_spark.sources.readers import (
    read_seed_rows,
    read_table,
)
from tests.fold_reference import (
    assigned_cells_expression,
    semdedup_edges_expression,
    seq_fold,
)


def _f32(rng, *shape):
    return rng.standard_normal(shape).astype(np.float32)


def test_fold_dot_matches_python_fold_bit_for_bit():
    """Every shape the package folds: a literal vector ``b`` (query
    cosine), a same-shape matrix ``b`` (pair cosine, norms), the
    row × seed broadcast (cell assignment, band keys) and the 3-D PQ
    difference tensor folded over its subdims."""
    rng = np.random.default_rng(5)
    a, b, v = _f32(rng, 64, 40), _f32(rng, 64, 40), _f32(rng, 64)
    got = fold_dot(a, v)
    assert [float(x) for x in got] == [seq_fold(a[:, j], v) for j in range(40)]
    got = fold_dot(a, b)
    assert [float(x) for x in got] == [seq_fold(a[:, j], b[:, j]) for j in range(40)]
    s = _f32(rng, 64, 6)
    got = fold_dot(a[:, :, None], s[:, None, :])
    assert got.shape == (40, 6)
    assert all(
        float(got[i, k]) == seq_fold(a[:, i], s[:, k])
        for i in range(40)
        for k in range(6)
    )
    diff = np.moveaxis(
        _f32(rng, 30, 8)[:, None, :].astype(np.float64)
        - _f32(rng, 16, 8)[None, :, :].astype(np.float64),
        -1,
        0,
    )  # (subdim, rows, codewords), as `_seq_assign` folds it
    got = fold_dot(diff, diff)
    assert got.shape == (30, 16)
    assert all(
        float(got[i, k]) == seq_fold(diff[:, i, k], diff[:, i, k])
        for i in range(30)
        for k in range(16)
    )
    assert float(fold_dot(v, v)) == seq_fold(v, v)


def test_map_kernel_keeps_input_column_types(spark):
    df = spark.createDataFrame(
        [(1, "a", [1.5, 2.0]), (2, "b", [0.5, -1.0])],
        "id int, s string, vec array<float>",
    ).withColumn("amt", F.lit("12.34").cast("decimal(10,2)"))

    def fn(pdf):
        return None, {"n": np.array([len(v) for v in pdf["vec"]], dtype=np.int64)}

    out = map_kernel(df, ["id", "amt", "vec"], {"n": "long"}, fn)
    types = {f.name: f.dataType for f in out.schema.fields}
    src = {f.name: f.dataType for f in df.schema.fields}
    assert [f.name for f in out.schema.fields] == ["id", "amt", "vec", "n"]
    assert all(types[c] == src[c] for c in ("id", "amt", "vec"))
    assert sorted((r["id"], str(r["amt"]), r["n"]) for r in out.collect()) == [
        (1, "12.34", 2),
        (2, "12.34", 2),
    ]


def test_map_kernel_skips_empty_partitions(spark):
    calls = spark.sparkContext.accumulator(0)

    def fn(pdf):
        assert len(pdf)  # never handed an empty batch
        calls.add(1)
        return None, {"y": pdf["id"].to_numpy() * 2}

    sparse = spark.range(0, 2, 1, 6)  # 6 partitions, 4 of them empty
    got = map_kernel(sparse, None, {"y": "long"}, fn).collect()
    assert sorted((r["id"], r["y"]) for r in got) == [(0, 0), (1, 2)]
    assert calls.value == 2
    empty = map_kernel(spark.range(5).filter("id < 0"), None, {"y": "long"}, fn)
    assert empty.collect() == [] and empty.columns == ["id", "y"]


def test_map_kernel_repeating_rows_index(spark):
    """``rows`` repeats input rows (0, 1 or 2 copies each here); a batch
    whose index is empty emits nothing."""
    df = spark.range(0, 9, 1, 3).withColumn("tag", F.concat(F.lit("t"), F.col("id")))

    def fn(pdf):
        reps = pdf["id"].to_numpy() % 3
        rows = np.repeat(np.arange(len(pdf)), reps)
        return rows, {"k": np.concatenate([np.arange(r) for r in reps]).astype(np.int32)}

    got = sorted(
        (r["id"], r["tag"], r["k"])
        for r in map_kernel(df, ["id", "tag"], {"k": "int"}, fn).collect()
    )
    assert got == [
        (i, f"t{i}", k) for i in range(9) for k in range(i % 3)
    ]
    only_zero = df.filter(F.col("id") % 3 == 0)  # every batch emits no row
    assert map_kernel(only_zero, ["id"], {"k": "int"}, fn).collect() == []


def test_semdedup_in_kernel_verify_matches_expression(spark):
    """The block kernel's `fold_dot` re-verify returns exactly the edges
    the interpreted `cosine` re-verify of the same cells returns, on the
    registry corpora and on the hot-cell fixture, where the single cell
    splits into chunk pairs and the cross-chunk blocks map their pair
    indexes back through the chunk mask."""
    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        em = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        seeds = sorted(
            (r["vec_id"], r["embedding"])
            for r in read_seed_rows(
                sf_dir, "embeddings", ["vec_id", "embedding"], "vec_id",
                hi=similarity._IVF_CELLS,
            )
        )
        got = {(r["src"], r["dst"]) for r in similarity.semdedup_edges(em, seeds).collect()}
        expr = semdedup_edges_expression(assigned_cells_expression(em, seeds, 2), 0.42)
        assert got and got == expr, sf_dir

    rng = np.random.default_rng(23)
    base = rng.standard_normal(64)
    base /= np.linalg.norm(base)
    rows = [
        (i, [float(np.float32(x)) for x in (base + 0.09 * rng.standard_normal(64))])
        for i in range(200)
    ]
    em = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    seeds = [(0, rows[0][1])]
    got = {
        (r["src"], r["dst"])
        for r in similarity.semdedup_edges(
            em, seeds, n_probe=1, tau=0.55, max_cell=32
        ).collect()
    }
    expr = semdedup_edges_expression(assigned_cells_expression(em, seeds, 1), 0.55)
    assert got and got == expr
