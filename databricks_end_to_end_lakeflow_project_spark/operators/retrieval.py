"""Composite retrieval operators: hybrid lexical+vector fusion and
diversity re-ranking.

These are the stages a RAG / training-data-curation pipeline runs AFTER
the primitive retrieval legs that already exist in this engine
(``text_bm25_topk`` for lexical, ``sim_cosine_topk`` for dense): fuse
the two candidate lists (reciprocal rank fusion, the standard
score-free combiner) and re-rank for diversity (maximal marginal
relevance). The reference repo has no retrieval surface at all — these
extend SURVEY.md §2.9's north-star LLM-data ops.

Scale design notes are on each operator; the common theme is that every
corpus-sized stage is a JVM expression scan ending in a
TakeOrderedAndProject, and only O(k)-sized candidate sets ever cross
into Python.

The sf documents/embeddings tables are id-aligned (doc_id == vec_id),
which is what makes hybrid fusion joinable here, exactly as a real
corpus with one embedding row per document would be.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from databricks_end_to_end_lakeflow_project_spark.registry import query
from databricks_end_to_end_lakeflow_project_spark.sources.readers import read_table
from databricks_end_to_end_lakeflow_project_spark.operators.textops import (
    bm25_scores,
    tokens,
)

_RRF_K = 60  # the standard reciprocal-rank-fusion damping constant
_LEG_DEPTH = 20  # candidates taken from each leg before fusion
_FUSED_TOPK = 10


def _ranked_topk(scored: DataFrame, score_col: str, k: int, rank_name: str) -> DataFrame:
    """(doc_id, rank 1..k) of the top-``k`` rows by (score DESC, doc_id).

    TakeOrderedAndProject bounds the frame to k rows; the rank is then a
    single-row ``sort_array(collect_list(...))`` + ``posexplode`` — no
    window function at all, so the plan never contains a
    single-partition WindowExec (the bounded-frame rank idiom the plan
    guard in tests/test_plans.py enforces engine-wide)."""
    topk = scored.orderBy(F.col(score_col).desc(), "doc_id").limit(k)
    packed = topk.agg(
        F.sort_array(
            F.collect_list(F.struct((-F.col(score_col)).alias("ns"), F.col("doc_id")))
        ).alias("arr")
    )
    return packed.select(F.posexplode("arr").alias("pos", "s")).select(
        F.col("s.doc_id").alias("doc_id"),
        (F.col("pos") + 1).cast("int").alias(rank_name),
    )


# DuckDB oracle: both legs recomputed in SQL, ranked on the same rounded
# scores with the same doc_id tiebreaks, fused with 1/(60+rank).
_RRF_ORACLE = f"""
WITH d AS (
  SELECT doc_id, string_split(trim(text), ' ') AS w,
         LENGTH(string_split(trim(text), ' '))::DOUBLE AS dl
  FROM documents
), tf AS (
  SELECT doc_id, dl,
         LENGTH(list_filter(w, x -> x = 'spark'))::DOUBLE AS tf1,
         LENGTH(list_filter(w, x -> x = 'join'))::DOUBLE AS tf2,
         LENGTH(list_filter(w, x -> x = 'window'))::DOUBLE AS tf3
  FROM d
), g AS (
  SELECT COUNT(*)::DOUBLE AS n, AVG(dl) AS avgdl,
         SUM((tf1 > 0)::INT)::DOUBLE AS df1,
         SUM((tf2 > 0)::INT)::DOUBLE AS df2,
         SUM((tf3 > 0)::INT)::DOUBLE AS df3
  FROM tf
), lex_scored AS (
  SELECT doc_id, ROUND(
         ln(1 + (n - df1 + 0.5) / (df1 + 0.5))
           * tf1 * 2.2 / (tf1 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
       + ln(1 + (n - df2 + 0.5) / (df2 + 0.5))
           * tf2 * 2.2 / (tf2 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
       + ln(1 + (n - df3 + 0.5) / (df3 + 0.5))
           * tf3 * 2.2 / (tf3 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)), 6)
         AS score
  FROM tf, g
), lex AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS lex_rank
  FROM lex_scored ORDER BY score DESC, doc_id LIMIT {_LEG_DEPTH}
), q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
vec_scored AS (
  SELECT e.vec_id AS doc_id,
         ROUND(
           list_reduce(list_transform(list_zip(e.embedding, q.qv),
             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (a, b) -> a + b)
           / (SQRT(list_reduce(list_transform(e.embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))
            * SQRT(list_reduce(list_transform(q.qv,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))),
         6) AS cos_sim
  FROM embeddings e, q
  WHERE e.vec_id <> 0
), vec AS (
  SELECT doc_id, row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS vec_rank
  FROM vec_scored ORDER BY cos_sim DESC, doc_id LIMIT {_LEG_DEPTH}
), fused AS (
  SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
         lex.lex_rank AS lex_rank, vec.vec_rank AS vec_rank,
         ROUND(COALESCE(1.0::DOUBLE / ({_RRF_K} + lex.lex_rank), 0)
             + COALESCE(1.0::DOUBLE / ({_RRF_K} + vec.vec_rank), 0), 6) AS rrf_score
  FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id
)
SELECT doc_id, lex_rank, vec_rank, rrf_score
FROM fused ORDER BY rrf_score DESC, doc_id LIMIT {_FUSED_TOPK}
"""


@query("retrieval_hybrid_rrf", _RRF_ORACLE)
def retrieval_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 top-20 (fixed query {spark, join, window})
    and dense cosine top-20 (query = vec_id 0) fused by reciprocal rank
    fusion — ``rrf = Σ_leg 1/(60 + rank_leg)`` — then fused top-10.

    Scale design: each leg is one full-corpus scan ending in
    TakeOrderedAndProject (never a global sort), so the fusion join sees
    two 20-row frames — driver-free, broadcast by construction. At
    100 TB the legs stay embarrassingly parallel; fusion cost is O(k).
    Ranks are computed on scores rounded to 6 places with doc_id
    tiebreaks so the ordering is reproducible across engines.
    """
    docs = read_table(spark, sf_dir, "documents")
    em = read_table(spark, sf_dir, "embeddings")

    lex = _ranked_topk(
        bm25_scores(docs).select("doc_id", F.round("score", 6).alias("score")),
        "score",
        _LEG_DEPTH,
        "lex_rank",
    )
    # dense leg scored by the exact-fold Arrow kernel (r10, guide §4.2 —
    # the interpreted HOF cosine was the leg's whole cost); round + ranking
    # stay in the JVM
    from databricks_end_to_end_lakeflow_project_spark.operators.similarity import (
        with_fold_cosine,
    )
    from databricks_end_to_end_lakeflow_project_spark.sources.readers import (
        read_seed_rows,
    )

    qv_vals = list(
        read_seed_rows(sf_dir, "embeddings", ["embedding"], "vec_id", eq=0)[0][
            "embedding"
        ]
    )
    vec_scored = with_fold_cosine(
        em.filter(F.col("vec_id") != 0).select(
            F.col("vec_id").alias("doc_id"), "embedding"
        ),
        "embedding",
        qv_vals,
        "c",
        keep=["doc_id"],
    ).select("doc_id", F.round(F.col("c"), 6).alias("cos_sim"))
    vec = _ranked_topk(vec_scored, "cos_sim", _LEG_DEPTH, "vec_rank")
    fused = (
        lex.join(vec, "doc_id", "full_outer")
        .select(
            "doc_id",
            "lex_rank",
            "vec_rank",
            F.round(
                F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("lex_rank")), F.lit(0.0))
                + F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("vec_rank")), F.lit(0.0)),
                6,
            ).alias("rrf_score"),
        )
        .orderBy(F.col("rrf_score").desc(), "doc_id")
        .limit(_FUSED_TOPK)
    )
    return fused


_MMR_LAMBDA = 0.7
_MMR_CANDIDATES = 25
_MMR_K = 10


def mmr_select(
    cand: pd.DataFrame, k: int = _MMR_K, lam: float = _MMR_LAMBDA
) -> pd.DataFrame:
    """Greedy maximal-marginal-relevance selection over a candidate
    pandas frame with columns (doc_id, rel, embedding). Pure function so
    the pytest can check it against an independent numpy model."""
    import numpy as np

    ids = cand["doc_id"].to_numpy()
    rel = cand["rel"].to_numpy(dtype=float)
    vecs = np.array([np.asarray(v, dtype=float) for v in cand["embedding"]])
    vecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    # candidate-candidate cosine, O(k^2) only. Rounded to 9dp so the
    # greedy objective is ENGINE-REPRODUCIBLE: gemm summation order
    # (BLAS kernel, thread count) perturbs last ulps, and an argmax over
    # unquantized floats could flip on those — with the quantized
    # objective the DuckDB oracle's replay picks identically.
    sims = np.round(vecs @ vecs.T, 9)
    chosen: list[int] = []
    rest = list(range(len(ids)))
    while rest and len(chosen) < k:
        if not chosen:
            # seed with the most relevant candidate (ids ascending tiebreak)
            best = max(rest, key=lambda i: (rel[i], -ids[i]))
        else:
            best = max(
                rest,
                key=lambda i: (
                    lam * rel[i] - (1 - lam) * max(sims[i][j] for j in chosen),
                    -ids[i],
                ),
            )
        chosen.append(best)
        rest.remove(best)
    return pd.DataFrame(
        {
            "doc_id": [int(ids[i]) for i in chosen],
            "mmr_rank": list(range(1, len(chosen) + 1)),
            "rel": [round(float(rel[i]), 6) for i in chosen],
        }
    )


# pid-tagged model dir (scratch.pid_model_dir): the oracle SQL embeds this
# path at import time and the export writes to it at query time — same
# process, so they agree; a CONCURRENT process (pytest vs driver gate) gets
# its own dir and can no longer clobber the model between this process's
# Spark run and its DuckDB oracle read.
from databricks_end_to_end_lakeflow_project_spark.sources.scratch import (  # noqa: E402
    pid_model_dir,
)

_MMR_MODEL_DIR = pid_model_dir()
_MMR_REL_PQ = __import__("os").path.join(_MMR_MODEL_DIR, "mmr_candidates.parquet")
_MMR_SIM_PQ = __import__("os").path.join(_MMR_MODEL_DIR, "mmr_sims.parquet")


def _export_mmr_model(cand_rows) -> None:
    """Write the candidate model (rel scores + 9dp-quantized pairwise
    cosines, both computed with the same numpy pipeline `mmr_select`
    uses) to fixed parquet paths for the oracle — the model-export
    pattern of `source_binaryfile_manifest`: 25 rows + 625 sims, model
    moves, not data; atomic rename so a concurrent reader never tears."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids = [int(r["doc_id"]) for r in cand_rows]
    rel = [float(r["rel"]) for r in cand_rows]
    vecs = np.array([np.asarray(r["embedding"], dtype=float) for r in cand_rows])
    vecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = np.round(vecs @ vecs.T, 9)
    os.makedirs(_MMR_MODEL_DIR, exist_ok=True)
    for path, tbl in [
        (
            _MMR_REL_PQ,
            pa.table({"doc_id": pa.array(ids, pa.int64()), "rel": pa.array(rel)}),
        ),
        (
            _MMR_SIM_PQ,
            pa.table(
                {
                    "i": pa.array([a for a in ids for _ in ids], pa.int64()),
                    "j": pa.array([b for _ in ids for b in ids], pa.int64()),
                    "sim": pa.array([float(x) for row in sims for x in row]),
                }
            ),
        ),
    ]:
        tmp = f"{path}.tmp{os.getpid()}"
        pq.write_table(tbl, tmp)
        os.replace(tmp, path)


def _mmr_oracle() -> str:
    """Generated 10-level unrolled greedy: level 1 seeds with the most
    relevant candidate; level k scores the rest as
    ``0.7·rel − (1 − 0.7)·max(sim to chosen)`` over the EXPORTED model
    (same doubles, same expression → identical argmax) with ascending
    doc_id tiebreaks — the exact `mmr_select` loop as SQL."""
    lvls = ["s1 AS MATERIALIZED (SELECT doc_id FROM rel ORDER BY rel DESC, doc_id LIMIT 1)"]
    chosen = "SELECT doc_id FROM s1"
    for k in range(2, _MMR_K + 1):
        lvls.append(
            f"""c{k} AS MATERIALIZED (
      SELECT r.doc_id, 0.7 * r.rel - (1 - 0.7) * MAX(s.sim) AS score
      FROM rel r JOIN sims s ON s.i = r.doc_id AND s.j IN ({chosen})
      WHERE r.doc_id NOT IN ({chosen})
      GROUP BY r.doc_id, r.rel
    ), s{k} AS MATERIALIZED (SELECT doc_id FROM c{k} ORDER BY score DESC, doc_id LIMIT 1)"""
        )
        chosen += f" UNION ALL SELECT doc_id FROM s{k}"
    ranks = "\n      UNION ALL ".join(
        f"SELECT doc_id, {k} AS mmr_rank FROM s{k}" for k in range(1, _MMR_K + 1)
    )
    body = ",\n    ".join(lvls)
    return f"""
    WITH rel AS MATERIALIZED (SELECT doc_id, rel FROM read_parquet('{_MMR_REL_PQ}')),
    sims AS MATERIALIZED (SELECT i, j, sim FROM read_parquet('{_MMR_SIM_PQ}')),
    {body},
    chosen AS (
      {ranks}
    )
    SELECT c.doc_id, CAST(c.mmr_rank AS INT) AS mmr_rank,
           ROUND(r.rel, 6) AS rel
    FROM chosen c JOIN rel r USING (doc_id)
    ORDER BY mmr_rank
    """


@query("retrieval_mmr_rerank", _mmr_oracle())
def retrieval_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-rank: take the top-25 cosine
    candidates for query vec_id=0, then greedily pick 10 balancing
    relevance against similarity-to-already-picked (λ=0.7) — the
    standard diversity pass between retrieval and a context window.

    Scale design: candidate generation is the distributed part (corpus
    scan → TakeOrderedAndProject top-25); the greedy O(k²) rerank runs
    in ONE `applyInPandas` group on an executor, so no corpus data
    reaches the driver beyond the 25-row candidate model. Promoted from
    rows-only to a FULL DuckDB oracle (round 3): the greedy objective is
    quantized (9dp pairwise cosines) so selection is engine-reproducible
    by design, the candidate model (rel + sims) exports to fixed parquet
    paths, and a generated 10-level unrolled SQL replays the exact
    greedy argmax with the same doubles and tiebreaks;
    `tests/test_retrieval.py` still pins the selection against an
    independent numpy implementation.
    """
    em = read_table(spark, sf_dir, "embeddings")
    from databricks_end_to_end_lakeflow_project_spark.operators.similarity import (
        with_fold_cosine,
    )
    from databricks_end_to_end_lakeflow_project_spark.sources.readers import (
        read_seed_rows,
    )

    # relevance scored by the exact-fold Arrow kernel (r10, guide §4.2)
    qv_vals = list(
        read_seed_rows(sf_dir, "embeddings", ["embedding"], "vec_id", eq=0)[0][
            "embedding"
        ]
    )
    cand = (
        with_fold_cosine(
            em.filter(F.col("vec_id") != 0).select(
                F.col("vec_id").alias("doc_id"), "embedding"
            ),
            "embedding",
            qv_vals,
            "c",
            keep=["doc_id", "embedding"],
        )
        .select("doc_id", F.round(F.col("c"), 6).alias("rel"), "embedding")
        .orderBy(F.col("rel").desc(), "doc_id")
        .limit(_MMR_CANDIDATES)
        .withColumn("g", F.lit(1))
    )
    # model export for the oracle: 25 candidate rows — a bounded
    # model-moves collect, same class as the PQ codebooks
    _export_mmr_model(cand.collect())
    out_schema = StructType.fromDDL("doc_id long, mmr_rank int, rel double")

    def _apply(pdf: pd.DataFrame) -> pd.DataFrame:
        return mmr_select(pdf.drop(columns=["g"]))

    return (
        cand.groupBy("g")
        .applyInPandas(_apply, schema=out_schema)
        .orderBy("mmr_rank")
    )


_FH_DIM = 16  # hashed feature buckets
_FH_QUERY = ["spark", "join", "window", "stream", "table"]


def _bucket_expr(tok):
    """md5-derived feature bucket — identical arithmetic both engines."""
    return (
        F.conv(F.substring(F.md5(tok.cast("string").cast("binary")), 1, 4), 16, 10)
        .cast("long")
        % _FH_DIM
    )


def _bucket_py(tok: str) -> int:
    import hashlib

    return int(hashlib.md5(tok.encode()).hexdigest()[:4], 16) % _FH_DIM


@query(
    "retrieval_hashed_features_topk",
    f"""
    WITH tok AS (
      SELECT doc_id, UNNEST(string_split(trim(text), ' ')) AS token
      FROM documents
    ), b AS (
      SELECT doc_id,
             ('0x' || SUBSTRING(md5(token), 1, 4))::BIGINT % {_FH_DIM} AS bucket,
             COUNT(*)::DOUBLE AS cnt
      FROM tok GROUP BY doc_id, bucket
    ), q AS (
      SELECT ('0x' || SUBSTRING(md5(qt), 1, 4))::BIGINT % {_FH_DIM} AS bucket,
             COUNT(*)::DOUBLE AS qcnt
      FROM (SELECT UNNEST({_FH_QUERY!r}) AS qt) GROUP BY bucket
    ), qn AS (SELECT SQRT(SUM(qcnt * qcnt)) AS qnorm FROM q),
    scored AS (
      SELECT b.doc_id,
             SUM(b.cnt * COALESCE(q.qcnt, 0)) AS dot,
             SQRT(SUM(b.cnt * b.cnt)) AS dnorm
      FROM b LEFT JOIN q ON b.bucket = q.bucket
      GROUP BY b.doc_id
    )
    SELECT doc_id, ROUND(dot / (dnorm * qnorm), 6) AS cos_sim
    FROM scored, qn
    ORDER BY cos_sim DESC, doc_id LIMIT 10
    """,
)
def retrieval_hashed_features_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing (hashing-trick) retrieval: every token maps to one
    of 16 hash buckets with NO vocabulary — the fixed-width featurizer
    that needs no training pass, no dictionary broadcast, and no schema
    change as the corpus grows, which is why it is the default first
    vectorizer for 100 TB text. Documents become bucket-count vectors
    (explode → ONE shuffle on (doc, bucket)); the query's 16-float
    vector is computed driver-side and joined in as literals; cosine
    top-10 ends in TakeOrderedAndProject. The md5-derived bucket
    function is replayed identically in the DuckDB oracle."""
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    b = tok.groupBy(
        "doc_id", _bucket_expr(F.col("token")).alias("bucket")
    ).agg(F.count(F.lit(1)).cast("double").alias("cnt"))

    qvec: dict[int, float] = {}
    for t in _FH_QUERY:
        qvec[_bucket_py(t)] = qvec.get(_bucket_py(t), 0.0) + 1.0
    qnorm = sum(v * v for v in qvec.values()) ** 0.5
    qcnt = None
    for bucket, v in qvec.items():
        term = F.when(F.col("bucket") == bucket, F.lit(v))
        qcnt = term if qcnt is None else qcnt.when(F.col("bucket") == bucket, F.lit(v))
    qcnt = qcnt.otherwise(F.lit(0.0))

    scored = b.groupBy("doc_id").agg(
        F.sum(F.col("cnt") * qcnt).alias("dot"),
        F.sqrt(F.sum(F.col("cnt") * F.col("cnt"))).alias("dnorm"),
    )
    return (
        scored.select(
            "doc_id",
            F.round(F.col("dot") / (F.col("dnorm") * F.lit(qnorm)), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "doc_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# round-6 addition: graded ranking-quality eval (NDCG / MRR / MAP)
# ---------------------------------------------------------------------------

_EVAL_QUERIES = 5  # vec_id 0..4 act as queries
_EVAL_K = 10

_RANK_EVAL_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS qid, embedding AS qv, label AS qlabel
  FROM embeddings WHERE vec_id < {_EVAL_QUERIES}
),
cand AS (
  SELECT vec_id AS did, embedding, label FROM embeddings
  WHERE vec_id >= {_EVAL_QUERIES}
),
scored AS (
  SELECT q.qid, c.did,
         CASE WHEN c.label = q.qlabel THEN 2
              WHEN ABS(c.label - q.qlabel) = 1 THEN 1 ELSE 0 END AS rel,
         ROUND(list_reduce(list_prepend(0.0::DOUBLE,
                 list_transform(list_zip(c.embedding, q.qv),
                   b -> CAST(b[1] AS DOUBLE) * CAST(b[2] AS DOUBLE))),
                 (a, b) -> a + b)
           / (SQRT(list_reduce(list_transform(c.embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))
            * SQRT(list_reduce(list_transform(q.qv,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))),
         6) AS score
  FROM cand c CROSS JOIN q
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
           PARTITION BY qid ORDER BY score DESC, did) AS rk
  FROM scored
),
ideal AS (
  SELECT qid,
         list_reduce(list_prepend(0.0::DOUBLE,
           LIST(CASE WHEN irk <= {_EVAL_K}
                     THEN (POW(2, rel) - 1) / LOG2(irk + 1)
                     ELSE 0.0 END ORDER BY irk)), (a, b) -> a + b) AS idcg,
         SUM(CASE WHEN rel = 2 THEN 1 ELSE 0 END) AS n_rel_total
  FROM (
    SELECT qid, rel, ROW_NUMBER() OVER (
             PARTITION BY qid ORDER BY rel DESC, did) AS irk
    FROM scored
  ) GROUP BY qid
),
topk AS (SELECT * FROM ranked WHERE rk <= {_EVAL_K}),
prec AS (
  SELECT qid, rk, rel,
         SUM(CASE WHEN rel = 2 THEN 1 ELSE 0 END)
           OVER (PARTITION BY qid ORDER BY rk) AS cum_rel
  FROM topk
),
per_q AS (
  SELECT p.qid,
         list_reduce(list_prepend(0.0::DOUBLE,
           LIST((POW(2, p.rel) - 1) / LOG2(p.rk + 1) ORDER BY p.rk)),
           (a, b) -> a + b) AS dcg,
         COALESCE(MAX(CASE WHEN p.rel = 2 THEN 1.0 / p.rk END), 0) AS mrr,
         list_reduce(list_prepend(0.0::DOUBLE,
           LIST(CASE WHEN p.rel = 2 THEN p.cum_rel * 1.0 / p.rk ELSE 0 END
                ORDER BY p.rk)), (a, b) -> a + b) AS ap_num
  FROM prec p GROUP BY p.qid
)
SELECT per_q.qid AS query_id, ideal.n_rel_total,
       ROUND(per_q.dcg / ideal.idcg, 6) AS ndcg_at_{_EVAL_K},
       ROUND(per_q.mrr, 6) AS mrr_at_{_EVAL_K},
       ROUND(per_q.ap_num / LEAST(ideal.n_rel_total, {_EVAL_K}), 6)
         AS ap_at_{_EVAL_K}
FROM per_q JOIN ideal ON per_q.qid = ideal.qid
ORDER BY query_id
"""


@query("retrieval_ndcg_mrr_eval", _RANK_EVAL_ORACLE)
def retrieval_ndcg_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded ranking-quality eval — NDCG@10, MRR@10 and MAP@10 per
    query — over the dense leg: queries are vec_ids 0..4, candidates
    the rest of the corpus, graded relevance from the embedding labels
    (2 = same class, 1 = adjacent class, 0 = other). This is the metric
    sheet a retrieval stack publishes per experiment; recall@k
    (`sim_recall_at_k_eval`) measures candidate generation, these
    measure ORDERING quality with graded gains.

    Exactness: scores are rounded to 6dp with did tiebreaks before
    ranking (cross-engine total order); every ≤10-term float reduction
    (DCG, ideal DCG, AP numerator) folds in pinned rank order on both
    engines.

    Plan: queries broadcast across one candidate scan (|Q|·n rows of
    narrow arithmetic), per-query top-k windows over |Q| partitions,
    then all metric algebra on ≤ |Q|·k rows — model moves, not data. At
    production |Q|, swap the scan for the gemm batch scorer
    (`sim_gemm_batch_topk`) — the metric algebra is unchanged.
    """
    em = read_table(spark, sf_dir, "embeddings")
    q = em.filter(F.col("vec_id") < _EVAL_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("qlabel"),
    )
    cand = em.filter(F.col("vec_id") >= _EVAL_QUERIES).select(
        F.col("vec_id").alias("did"), "embedding", "label"
    )
    rel = (
        F.when(F.col("label") == F.col("qlabel"), 2)
        .when(F.abs(F.col("label") - F.col("qlabel")) == 1, 1)
        .otherwise(0)
    )
    # batch scoring via the exact-fold Arrow kernel (r10, guide §4.2)
    from databricks_end_to_end_lakeflow_project_spark.operators.similarity import (
        with_fold_cosine,
    )

    scored = with_fold_cosine(
        cand.crossJoin(F.broadcast(q)).withColumn("rel", rel),
        "embedding",
        "qv",
        "c",
        keep=["qid", "did", "rel"],
    ).select("qid", "did", "rel", F.round(F.col("c"), 6).alias("score"))
    wq = Window.partitionBy("qid")
    ranked = scored.withColumn(
        "rk", F.row_number().over(wq.orderBy(F.col("score").desc(), "did"))
    )

    def pinned_sum(order_col, term):
        arr = F.array_sort(
            F.collect_list(F.struct(F.col(order_col).alias("o"), term.alias("t")))
        )
        return F.aggregate(arr, F.lit(0.0), lambda acc, s: acc + s["t"])

    gain = (F.pow(F.lit(2.0), F.col("rel")) - 1) / F.log2(F.col("rk") + 1)
    ideal = (
        scored.withColumn(
            "irk", F.row_number().over(wq.orderBy(F.col("rel").desc(), "did"))
        )
        .groupBy("qid")
        .agg(
            pinned_sum(
                "irk",
                F.when(
                    F.col("irk") <= _EVAL_K,
                    (F.pow(F.lit(2.0), F.col("rel")) - 1)
                    / F.log2(F.col("irk") + 1),
                ).otherwise(F.lit(0.0)),
            ).alias("idcg"),
            F.sum(F.when(F.col("rel") == 2, 1).otherwise(0)).alias(
                "n_rel_total"
            ),
        )
    )
    topk = ranked.filter(F.col("rk") <= _EVAL_K)
    cum_rel = F.sum(F.when(F.col("rel") == 2, 1).otherwise(0)).over(
        wq.orderBy("rk")
    )
    prec = topk.withColumn("cum_rel", cum_rel)
    per_q = prec.groupBy("qid").agg(
        pinned_sum("rk", gain).alias("dcg"),
        F.coalesce(
            F.max(F.when(F.col("rel") == 2, 1.0 / F.col("rk"))), F.lit(0.0)
        ).alias("mrr"),
        pinned_sum(
            "rk",
            F.when(
                F.col("rel") == 2, F.col("cum_rel") * 1.0 / F.col("rk")
            ).otherwise(F.lit(0.0)),
        ).alias("ap_num"),
    )
    return (
        per_q.join(ideal, "qid")
        .select(
            F.col("qid").alias("query_id"),
            "n_rel_total",
            F.round(F.col("dcg") / F.col("idcg"), 6).alias(f"ndcg_at_{_EVAL_K}"),
            F.round("mrr", 6).alias(f"mrr_at_{_EVAL_K}"),
            F.round(
                F.col("ap_num") / F.least(F.col("n_rel_total"), F.lit(_EVAL_K)),
                6,
            ).alias(f"ap_at_{_EVAL_K}"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# round-8: pseudo-relevance-feedback query expansion (Rocchio/RM3-style)
# ---------------------------------------------------------------------------

_PRF_BASE = ["join", "spark"]  # alphabetical; distinct from text_bm25_topk's 3
_PRF_TOP = 10
_PRF_NEXP = 2
_PRF_K1, _PRF_B = 1.2, 0.75

_PRF_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, string_split(trim(text), ' ') AS w,
             LENGTH(string_split(trim(text), ' '))::DOUBLE AS dl
      FROM documents
    ),
    g AS (SELECT COUNT(*)::DOUBLE AS n, AVG(dl) AS avgdl FROM d),
    tok AS (
      SELECT DISTINCT doc_id, u.w AS term
      FROM documents, UNNEST(string_split(trim(text), ' ')) AS u(w)
      WHERE length(u.w) > 0
    ),
    dfc AS (SELECT term, COUNT(*) AS df FROM tok GROUP BY term),
    r1 AS (
      SELECT d.doc_id,
             ln(1 + (n - dfa.df + 0.5) / (dfa.df + 0.5))
               * tfa * {_PRF_K1 + 1}
               / (tfa + {_PRF_K1} * ({1 - _PRF_B} + {_PRF_B} * dl / avgdl))
           + ln(1 + (n - dfb.df + 0.5) / (dfb.df + 0.5))
               * tfb * {_PRF_K1 + 1}
               / (tfb + {_PRF_K1} * ({1 - _PRF_B} + {_PRF_B} * dl / avgdl))
             AS sc
      FROM (SELECT doc_id, dl,
                   len(list_filter(w, x -> x = '{_PRF_BASE[0]}'))::DOUBLE AS tfa,
                   len(list_filter(w, x -> x = '{_PRF_BASE[1]}'))::DOUBLE AS tfb
            FROM d) d
      CROSS JOIN g
      CROSS JOIN (SELECT df FROM dfc WHERE term = '{_PRF_BASE[0]}') dfa
      CROSS JOIN (SELECT df FROM dfc WHERE term = '{_PRF_BASE[1]}') dfb
    ),
    top1 AS (SELECT doc_id FROM r1 ORDER BY sc DESC, doc_id LIMIT {_PRF_TOP}),
    exp AS (
      SELECT t.term, COUNT(*) AS cnt
      FROM tok t JOIN top1 USING (doc_id)
      WHERE length(t.term) >= 3
        AND t.term NOT IN ('{_PRF_BASE[0]}', '{_PRF_BASE[1]}')
      GROUP BY t.term
    ),
    chosen AS (
      SELECT e.term
      FROM exp e JOIN dfc USING (term) CROSS JOIN g
      ORDER BY CAST(ROUND(e.cnt * LN(n / df) * 1000000) AS BIGINT) DESC, e.term
      LIMIT {_PRF_NEXP}
    ),
    qterms AS (
      SELECT '{_PRF_BASE[0]}' AS term UNION ALL
      SELECT '{_PRF_BASE[1]}' UNION ALL
      SELECT term FROM chosen
    ),
    tokall AS (
      SELECT doc_id, u.w AS term
      FROM documents, UNNEST(string_split(trim(text), ' ')) AS u(w)
    ),
    tf2 AS (
      SELECT doc_id, term, COUNT(*)::DOUBLE AS tf
      FROM tokall JOIN qterms USING (term) GROUP BY doc_id, term
    ),
    scored AS (
      SELECT tf2.doc_id, tf2.term,
             ln(1 + (n - df + 0.5) / (df + 0.5)) * tf * {_PRF_K1 + 1}
               / (tf + {_PRF_K1} * ({1 - _PRF_B} + {_PRF_B} * dl / avgdl))
               AS s
      FROM tf2
      JOIN d ON tf2.doc_id = d.doc_id
      JOIN dfc ON tf2.term = dfc.term
      CROSS JOIN g
    ),
    s2 AS (
      SELECT doc_id,
             list_reduce(list_prepend(0.0::DOUBLE, LIST(s ORDER BY term)),
                         (a, b) -> a + b) AS sc
      FROM scored GROUP BY doc_id
    )
    SELECT doc_id, ROUND(sc, 4) AS bm25_prf,
           (SELECT MIN(term) FROM chosen) AS exp_term_1,
           (SELECT MAX(term) FROM chosen) AS exp_term_2
    FROM s2 ORDER BY sc DESC, doc_id LIMIT {_PRF_TOP}
"""


@query("retrieval_prf_expansion", _PRF_ORACLE)
def retrieval_prf_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (Rocchio/RM3 family):
    BM25 round 1 for the base query {join, spark} → the top-2 expansion
    terms from the top-10 docs by presence-count × IDF → BM25 round 2
    with the 4-term expanded query. The classical recall lever layered
    on [[text_bm25_topk]]; [[retrieval_hybrid_rrf]] fuses rankers,
    PRF reshapes the query itself from the corpus's own evidence.

    Exactness: round-1 scores are per-doc-identical expression trees on
    exact scalars (N, avgdl — integer-valued doubles sum exactly in any
    order — and integer dfs), so the top-10 cut is deterministic; the
    expansion key quantizes cnt·ln(N/df) to 1e-6 longs (tie → term
    order); round-2 per-doc scores fold per-term contributions in
    ALPHABETICAL term order on both sides (0.0-seeded left fold — IEEE
    equal to Spark's array fold). Plan: two known-query scoring passes
    (size(filter(...)) inside the scan, no explode for round 1), one
    bounded top-doc token aggregate, and one 4-term equi-join pass for
    round 2; the 2 expansion terms and 2 df scalars are the only
    driver-side pulls (bounded, the model-moves contract).
    """
    from databricks_end_to_end_lakeflow_project_spark.operators.textops import (
        tokens,
    )

    docs = read_table(spark, sf_dir, "documents")
    w = tokens(F.col("text"))
    d = docs.select("doc_id", w.alias("w"), F.size(w).cast("double").alias("dl"))
    d = d.persist()
    g = d.agg(
        F.count(F.lit(1)).cast("double").alias("n"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    n, avgdl = g["n"], g["avgdl"]
    tok = (
        docs.select("doc_id", F.explode(w).alias("term"))
        .filter(F.length("term") > 0)
        .distinct()
    )
    dfc = tok.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    dfc = dfc.persist()
    base_dfs = {
        r["term"]: r["df"]
        for r in dfc.filter(F.col("term").isin(_PRF_BASE)).collect()
    }

    def norm_expr():
        return F.lit(_PRF_K1) * (
            F.lit(1 - _PRF_B) + F.lit(_PRF_B) * F.col("dl") / F.lit(avgdl)
        )

    def term_score(term: str, df: int, tf_col):
        import math

        idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
        return F.lit(idf) * tf_col * F.lit(_PRF_K1 + 1) / (tf_col + norm_expr())

    def tf_of(term: str):
        return F.size(
            F.filter(F.col("w"), (lambda t: (lambda x: x == t))(term))
        ).cast("double")

    if all(t in base_dfs for t in _PRF_BASE):
        r1 = d.select(
            "doc_id",
            (
                term_score(_PRF_BASE[0], base_dfs[_PRF_BASE[0]], tf_of(_PRF_BASE[0]))
                + term_score(_PRF_BASE[1], base_dfs[_PRF_BASE[1]], tf_of(_PRF_BASE[1]))
            ).alias("sc"),
        )
        top1 = r1.orderBy(F.desc("sc"), "doc_id").limit(_PRF_TOP).select("doc_id")
        exp = (
            tok.join(top1, "doc_id")
            .filter((F.length("term") >= 3) & ~F.col("term").isin(_PRF_BASE))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        key = F.round(
            F.col("cnt") * F.log(F.lit(n) / F.col("df")) * 1_000_000
        ).cast("long")
        chosen = [
            r["term"]
            for r in exp.join(dfc, "term")
            .orderBy(key.desc(), "term")
            .limit(_PRF_NEXP)
            .collect()
        ]
    else:
        # a base term absent from the corpus empties the oracle's r1 CTE
        # (CROSS JOIN with a zero-row df subquery) -> no round-1 top docs,
        # no expansion candidates; degrade identically instead of KeyError
        chosen = []
    # score only terms that exist in the corpus — the oracle's `scored`
    # CTE inner-joins dfc, so an absent term contributes nothing there
    term_dfs = {
        r["term"]: r["df"]
        for r in dfc.filter(
            F.col("term").isin(sorted(set(_PRF_BASE) | set(chosen)))
        ).collect()
    }
    all_terms = sorted(term_dfs)
    if not all_terms:
        # oracle: tf2/scored/s2 all empty -> empty result (schema kept)
        d.unpersist()
        dfc.unpersist()
        return d.select(
            "doc_id",
            F.lit(0.0).alias("bm25_prf"),
            F.lit(None).cast("string").alias("exp_term_1"),
            F.lit(None).cast("string").alias("exp_term_2"),
        ).limit(0)
    # per-term scores folded in alphabetical order (0.0-seeded, matching
    # the oracle's list_reduce(prepend(0.0, LIST(... ORDER BY term))))
    score2 = F.aggregate(
        F.array(*[term_score(t, term_dfs[t], tf_of(t)) for t in all_terms]),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    exp_sorted = sorted(chosen)
    # oracle exp terms are MIN/MAX over `chosen` — NULL when empty; a
    # single candidate legitimately fills both columns
    e1 = F.lit(exp_sorted[0]) if exp_sorted else F.lit(None).cast("string")
    e2 = F.lit(exp_sorted[-1]) if exp_sorted else F.lit(None).cast("string")
    out = (
        d.select("doc_id", score2.alias("sc"))
        .orderBy(F.desc("sc"), "doc_id")
        .limit(_PRF_TOP)
        .select(
            "doc_id",
            F.round(F.col("sc"), 4).alias("bm25_prf"),
            e1.alias("exp_term_1"),
            e2.alias("exp_term_2"),
        )
    )
    return out
