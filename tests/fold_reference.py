"""Reference models for the exact-fold kernels.

Each function here is a slower formulation of something the package
computes with `operators.kernels.fold_dot`: the interpreted Spark
expressions the kernels replaced, and the pure-Python fold. Tests compare
the kernels against them bit-for-bit; no query path uses them.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from databricks_end_to_end_lakeflow_project_spark.operators.similarity import (
    _BANDS,
    _PLANES_PER_BAND,
    _hyperplanes,
    cosine,
    dot,
)


def seq_fold(a, b) -> float:
    """acc = 0.0; acc = acc + a_d·b_d per element, in order — Python
    floats are IEEE doubles, so this is the engines' fold exactly."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + float(x) * float(y)
    return acc


def seq_cosine(a, b) -> float:
    """Driver-side cosine in the fold order of `cosine` / DuckDB's
    list_reduce: dot(a, b) / (norm(a) · norm(b))."""
    return seq_fold(a, b) / (math.sqrt(seq_fold(a, a)) * math.sqrt(seq_fold(b, b)))


def band_signatures(vec: Column) -> Column:
    """Array of 16 band keys; band i packs the sign bits of its 3 planes,
    as 48 interpreted `dot` folds per row — the expression
    `with_band_signatures` must reproduce."""
    planes = _hyperplanes()
    bands = []
    for bi in range(_BANDS):
        bits = F.lit(0)
        for pi in range(_PLANES_PER_BAND):
            plane = F.array(*[F.lit(x) for x in planes[bi * _PLANES_PER_BAND + pi]])
            bits = bits + F.when(dot(vec, plane) > 0, F.lit(1 << pi)).otherwise(F.lit(0))
        bands.append(bits)
    return F.array(*bands)


def assigned_cells_expression(
    em: DataFrame, seeds: list[tuple[int, list[float]]], n_probe: int
) -> DataFrame:
    """The pure-JVM formulation of the small-seed assignment: per-seed
    `cosine` structs, ``array_sort`` by (−cosine, cell), top ``n_probe``
    exploded in probe order → (vec_id, embedding, cell)."""
    ranked = F.array_sort(
        F.array(*[
            F.struct(
                (-cosine(
                    F.col("embedding"),
                    F.array(*[F.lit(float(x)) for x in cvec]),
                )).alias("ns"),
                F.lit(cell_id).alias("cell"),
            )
            for cell_id, cvec in seeds
        ])
    )
    return em.select(
        "vec_id",
        "embedding",
        F.explode(
            F.transform(F.slice(ranked, 1, n_probe), lambda s: s["cell"])
        ).alias("cell"),
    )


def semdedup_edges_expression(
    assigned: DataFrame, tau: float
) -> set[tuple[int, int]]:
    """SemDeDup edges re-verified by the interpreted `cosine`: every
    same-cell pair of ``assigned`` (vec_id, embedding, cell) whose
    expression cosine is ≥ ``tau``, as (src, dst) with src < dst. The
    block kernel's ε-band candidates are a subset of the same-cell pairs
    that contains every pair at or above ``tau``, so the two edge sets
    must be equal."""
    a = assigned.select(
        F.col("vec_id").alias("src"), F.col("embedding").alias("ea"), "cell"
    )
    b = assigned.select(
        F.col("vec_id").alias("dst"), F.col("embedding").alias("eb"), "cell"
    )
    return {
        (r["src"], r["dst"])
        for r in a.join(b, "cell")
        .filter(F.col("src") < F.col("dst"))
        .filter(cosine(F.col("ea"), F.col("eb")) >= F.lit(tau))
        .select("src", "dst")
        .distinct()
        .collect()
    }
