"""Exact-fold kernels: the one per-dimension fold and the one Arrow map
wrapper that every exact-fold operator runs through.

The curation operators (SemDeDup, IVF, LSH, PQ, retrieval) pin their
cosines bit-for-bit to the DuckDB oracle's ``list_reduce`` and to the
JVM ``aggregate`` fold: ``acc ← acc + a_d·b_d`` from 0.0, left to right,
each step IEEE-rounded. `fold_dot` is that fold over numpy arrays: one
element-wise multiply and one element-wise add per dimension, in
dimension order. Element-wise ufuncs never fuse or reassociate, so every
intermediate equals the engine's double exactly (``np.dot``/BLAS sum in
a different order and differ in the last ulp).

`map_kernel` is the ``mapInPandas`` wrapper of the exact-fold kernels:
keep columns, output DDL derived from the input schema plus the declared
outputs, empty batches skipped. Moving the kernels to ``mapInArrow`` is
a change to this one function. Eleven stages still call ``mapInPandas``
directly, each for a reason:

- Rows that are not rows of the input, so ``keep`` has nothing to keep:
  ``stats.misra_gries_partial`` emits one summary per partition and
  carries its counters across batches; ``similarity.pq_train`` emits
  per-(subspace, code) partial sums that the driver collects.
- The multimodal decode plumbing (``multimodal.extract_image_features``,
  ``sample_frames``, ``resize_images``, ``audio_frame_energy``,
  ``extract_patches``): a codec per payload whose outputs are decoded
  features and frames, not folds; the module documents this decode
  contract as its own API.
- Float GEMM stages that are not exact folds: ``similarity.sim_gemm_batch_topk``
  (per-batch top-k per query) and ``similarity.jl_project`` (one row per
  output dimension). Both could state their rows as a ``map_kernel``
  index; they move with the ``mapInArrow`` change (ROADMAP item 8).
- ``dedup.minhash_signatures``: slices the flat shingle-hash vector across
  rows and yields an empty frame for an empty batch; it moves when
  shingling is fused into it (ROADMAP item 8).
- ``functions/udfs.udf_map_in_pandas``: the demonstration of the raw
  ``mapInPandas`` iterator API, which a wrapper would hide.

When a kernel pays for its stage. A ``mapInPandas`` stage costs about
0.2–0.4 s of fixed time per query (4 vCPU, ``local[4]``), so the
interpreted expression (``similarity.cosine``) stays where it scores a
few thousand rows or fewer and no Python stage exists yet. Measured by
moving three such queries onto `similarity.with_fold_cosine` (median of
6 interleaved pairs, sf0.01 / sf0.1):

- ``sim_quantized_cosine_topk``    1.16 → 1.19 s / 1.63 → 1.86 s
- ``sim_pq_adc_topk``              2.75 → 2.94 s / 1.82 → 1.99 s
- ``sim_matryoshka_prefix_rerank`` 0.52 → 0.93 s / 0.53 → 0.93 s

(each scores at most 2,000 rows). The rule: a kernel pays on pair-scale
frames (``sim_embedding_near_dup_pairs`` 9.98 → 1.14 s), or when it runs
inside a Python stage that already exists (SemDeDup re-verifies its
ε-band survivors inside the block kernel: 2.11 → 1.78 s, where joining
the survivors back through `with_fold_cosine` was slower than the
expression, 2.49 → 2.67 s). The same reasoning kept BM25 on expressions
(its kernel measured slower) and moved tf-idf's token counts here (the
kernel removed an exchange).
"""

from __future__ import annotations

from typing import Callable

import numpy as np
from pyspark.sql import DataFrame


def fold_dot(a, b) -> np.ndarray:
    """Sequential-fold dot product along the leading axis of ``a``:
    ``acc ← acc + a[d]·b[d]`` for d in order, from 0.0, as float64.
    ``b`` is an array of ``a``'s shape, a vector of length
    ``a.shape[0]`` (one scalar per dimension), or any array whose
    per-dimension slices broadcast against ``a[d]`` (``a[:, :, None]``
    against ``b[:, None, :]`` folds every row against every column).
    Bit-identical to the JVM ``dot``/``norm`` folds and DuckDB's
    ``list_reduce``; ``fold_dot(x, x)`` is the squared norm."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    acc = np.zeros(np.broadcast_shapes(a.shape[1:], b.shape[1:]))
    tmp = np.empty_like(acc)
    for d in range(a.shape[0]):
        np.multiply(a[d], b[d], out=tmp)
        np.add(acc, tmp, out=acc)
    return acc


def dim_major(col) -> np.ndarray:
    """pandas Series of equal-length vectors → contiguous (dim, n)
    float64, the layout `fold_dot` reads one dimension at a time."""
    return np.ascontiguousarray(
        np.stack(col.map(np.asarray).values).astype(np.float64).T
    )


def map_kernel(
    df: DataFrame,
    keep: list[str] | None,
    out_fields: dict[str, str],
    fn: Callable,
) -> DataFrame:
    """Run ``fn`` over ``df``'s Arrow batches and emit the ``keep``
    columns (default: all) plus the declared ``out_fields`` (name → DDL
    type). The ``keep`` types come from ``df.schema``, so a kept column
    leaves with the type it came in with. ``fn(pdf)`` returns
    ``(rows, {out: values})``: ``rows`` None emits one row per input
    row; an index array repeats or explodes input rows (multi-probe
    cells, n-grams, token counts), one output row per entry. Empty input
    batches and batches that emit no rows are skipped."""
    keep = list(df.columns) if keep is None else list(keep)
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    schema = ", ".join(
        [f"`{c}` {types[c]}" for c in keep]
        + [f"`{c}` {t}" for c, t in out_fields.items()]
    )

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            rows, outs = fn(pdf)
            if rows is not None and not len(rows):
                continue
            res = pdf[keep] if rows is None else pdf[keep].iloc[rows]
            res = res.reset_index(drop=True)
            for c in out_fields:
                res[c] = outs[c]
            yield res

    return df.mapInPandas(run, schema=schema)
