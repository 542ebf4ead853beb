"""Hybrid RRF fusion + MMR re-rank: invariants and an independent
numpy model for the greedy (non-SQL-expressible) MMR selection."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from databricks_end_to_end_lakeflow_project_spark.operators.retrieval import (
    _MMR_K,
    _MMR_LAMBDA,
    mmr_select,
    retrieval_hybrid_rrf,
    retrieval_mmr_rerank,
)

SF_DIR = "/root/testdata/sf0.001"


def _mmr_reference(ids, rel, vecs, k, lam):
    """Straight-from-the-paper reference: argmax over
    λ·rel − (1−λ)·max-sim-to-selected, ids-ascending tiebreak."""
    vecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = vecs @ vecs.T
    chosen, rest = [], list(range(len(ids)))
    while rest and len(chosen) < k:
        scores = {}
        for i in rest:
            if not chosen:
                scores[i] = rel[i]
            else:
                scores[i] = lam * rel[i] - (1 - lam) * sims[i, chosen].max()
        best_score = max(scores.values())
        best = min(i for i in rest if scores[i] == best_score)
        chosen.append(best)
        rest.remove(best)
    return [int(ids[i]) for i in chosen]


def test_mmr_select_matches_reference_model():
    rng = np.random.default_rng(11)
    n, dim = 30, 8
    ids = np.arange(100, 100 + n)
    rel = np.round(rng.uniform(0, 1, n), 6)
    vecs = rng.standard_normal((n, dim))
    cand = pd.DataFrame(
        {"doc_id": ids, "rel": rel, "embedding": [list(v) for v in vecs]}
    )
    got = mmr_select(cand, k=10, lam=_MMR_LAMBDA)
    want = _mmr_reference(ids, rel, vecs, 10, _MMR_LAMBDA)
    assert got["doc_id"].tolist() == want
    assert got["mmr_rank"].tolist() == list(range(1, 11))


def test_mmr_prefers_diversity_over_pure_relevance():
    # two near-identical high-rel vectors + one orthogonal mid-rel vector:
    # pure relevance picks the twins 1-2; MMR must break them apart.
    cand = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "rel": [0.99, 0.98, 0.60],
            "embedding": [[1.0, 0.01], [1.0, 0.0], [0.0, 1.0]],
        }
    )
    got = mmr_select(cand, k=3, lam=0.5)
    assert got["doc_id"].tolist()[:2] == [1, 3]


def test_mmr_rerank_spark(spark):
    out = retrieval_mmr_rerank(spark, SF_DIR).toPandas()
    assert len(out) == _MMR_K
    assert out["mmr_rank"].tolist() == list(range(1, _MMR_K + 1))
    assert out["doc_id"].is_unique
    # rank 1 is the globally most relevant candidate
    assert out.loc[0, "rel"] == out["rel"].max()


def test_hybrid_rrf_spark(spark):
    out = retrieval_hybrid_rrf(spark, SF_DIR).toPandas()
    assert len(out) == 10
    assert out["doc_id"].is_unique
    # fused scores are sorted and consistent with the rank formula
    assert (out["rrf_score"].to_numpy()[:-1] >= out["rrf_score"].to_numpy()[1:]).all()
    both = out.dropna(subset=["lex_rank", "vec_rank"])
    for _, r in both.iterrows():
        expect = 1.0 / (60 + r["lex_rank"]) + 1.0 / (60 + r["vec_rank"])
        assert r["rrf_score"] == pytest.approx(expect, abs=1e-6)


def test_recall_at_k_eval_matches_pure_python(spark):
    """Recall@10 recomputed independently: pure-Python sequential-fold
    cosines build the ground-truth and IVF answer sets per query; the
    Spark counts must match exactly, and probing ALL cells must yield
    recall 1.0 by construction (the IVF set equals ground truth when
    nothing is pruned)."""
    from databricks_end_to_end_lakeflow_project_spark.operators.similarity import (
        _IVF_CELLS,
        _IVF_NPROBE,
        _RECALL_K,
        _RECALL_Q_HI,
        _RECALL_Q_LO,
        sim_recall_at_k_eval,
    )
    from tests.fold_reference import seq_cosine as _seq_cosine

    got = {r["q_vec"]: r for r in sim_recall_at_k_eval(spark, SF_DIR).collect()}

    import pyarrow.parquet as pq

    tbl = pq.read_table(f"{SF_DIR}/embeddings.parquet", columns=["vec_id", "embedding"])
    emb = dict(zip(tbl.column("vec_id").to_pylist(), tbl.column("embedding").to_pylist()))
    seeds = [(i, emb[i]) for i in sorted(emb) if i < _IVF_CELLS]

    def top_cells(v, k):
        return [c for c, _ in sorted(seeds, key=lambda s: (-_seq_cosine(s[1], v), s[0]))[:k]]

    assigned = {vid: top_cells(v, 1)[0] for vid, v in emb.items()}
    for q in range(_RECALL_Q_LO, _RECALL_Q_HI + 1):
        qv = emb[q]
        ranked = sorted(
            (vid for vid in emb if vid != q),
            key=lambda vid: (-_seq_cosine(emb[vid], qv), vid),
        )
        gt = set(ranked[:_RECALL_K])
        probe = set(top_cells(qv, _IVF_NPROBE))
        ivf = [vid for vid in ranked if assigned[vid] in probe][:_RECALL_K]
        n_hits = len(gt & set(ivf))
        assert got[q]["n_hits"] == n_hits, q
        assert got[q]["recall_at_k"] == round(n_hits / _RECALL_K, 2)
        # un-pruned sanity: probing every cell reproduces ground truth
        all_cells = [vid for vid in ranked if assigned[vid] in set(range(_IVF_CELLS))][:_RECALL_K]
        assert set(all_cells) == gt
