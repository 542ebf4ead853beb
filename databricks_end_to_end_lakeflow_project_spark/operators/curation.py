"""Corpus-curation and behavioral-analytics operators for LLM training
data pipelines: benchmark-contamination detection, Gopher-style
repetition filtering, GPT-style sequence packing, temperature-scaled
language mixtures, and event sessionization / funnel / retention.

North-star additions (SURVEY.md §2.9; the reference has no analogue —
its quality surface stops at NOT-NULL expectations,
`dlt_bronze_to_silver_pipeline.py:6-12`). These generalize that gating
role to the corpus-curation setting: which documents continue downstream
and at what rate.

Scale design (100 TB):

- Repetition and contamination work on exploded n-grams keyed by
  ``doc_id`` / gram — aggregations are partial-aggregatable and shuffle
  group keys, not documents. The contamination join broadcasts the
  (deduplicated, tiny) benchmark gram set.
- Sequence packing uses a *sharded* running sum: documents are assigned
  to 16 deterministic hash shards and the cumulative window runs inside
  each shard, so no single-task global sort bottleneck; packing is still
  a pure function of content hashes, reproducible on any cluster.
- Sessionization is one window per ``user_id`` — the natural Spark
  partitioning; no state beyond the sort buffer.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from databricks_end_to_end_lakeflow_project_spark.operators.kernels import map_kernel
from databricks_end_to_end_lakeflow_project_spark.registry import query
from databricks_end_to_end_lakeflow_project_spark.sources.readers import read_table
from databricks_end_to_end_lakeflow_project_spark.operators.sampling import hash_hex

PACK_BUDGET = 2048  # tokens per packed training sequence bin
SESSION_GAP_S = 1800  # 30 min inactivity ends a session


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


def grams_all(text: Column, n: int) -> Column:
    """ALL word n-grams (non-distinct, order-preserving) of space-
    tokenized text, as shifted-slice ``zip_with`` (see
    ``dedup.shingles`` for why not transform-over-sequence)."""
    w = F.split(F.trim(text), " ")
    length = F.size(w) - (n - 1)
    acc = F.slice(w, 1, length)
    for k in range(1, n):
        acc = F.zip_with(acc, F.slice(w, k + 1, length), lambda a, b: F.concat_ws(" ", a, b))
    return acc


def exploded_distinct_ngrams(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, g): per-document DISTINCT word ``n``-grams as an Arrow
    kernel — the batch equivalent of
    ``explode(array_distinct(grams_all(text, n)))``, which runs as
    INTERPRETED nested ``zip_with`` lambdas (Spark never compiles HOFs;
    measured 2× slower than this kernel at sf0.1 for n=5, identical
    250,704-gram output). Exact string equality: Spark's
    ``split(trim(text), " ")`` ≡ Python ``text.strip(" ").split(" ")``
    (both keep internal empties; trim strips spaces only), ``concat_ws``
    over non-null strings ≡ ``" ".join``, and ``array_distinct``
    keeps first occurrences, which a dict-of-keys reproduces (order is
    irrelevant to every consumer — the gram stream feeds joins and
    counts). Pinned by
    tests/test_curation.py::test_distinct_ngram_kernel_matches_expression.
    ``docs`` must carry (doc_id, text)."""

    def gen(pdf):
        rows: list[int] = []
        gs: list[str] = []
        for i, text in enumerate(pdf["text"]):
            parts = text.strip(" ").split(" ")
            distinct = dict.fromkeys(
                " ".join(parts[j : j + n]) for j in range(len(parts) - n + 1)
            )
            rows += [i] * len(distinct)
            gs += distinct
        return np.asarray(rows, dtype=np.int64), {"g": gs}

    return map_kernel(docs.select("doc_id", "text"), ["doc_id"], {"g": "string"}, gen)


@query(
    "text_repetition_gopher",
    """
    WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
    bi AS (
      SELECT doc_id, array_to_string(w[u.i:u.i+1], ' ') AS g
      FROM toks, LATERAL unnest(range(1, len(w))) u(i)
    ),
    per_gram AS (SELECT doc_id, g, COUNT(*) AS c FROM bi GROUP BY doc_id, g),
    per_doc AS (
      SELECT doc_id, MAX(c) AS mx, SUM(c) AS tot FROM per_gram GROUP BY doc_id
    ),
    uniq AS (
      SELECT doc_id,
             ROUND(LENGTH(list_distinct(w))::DOUBLE / LENGTH(w), 4) AS uniq_token_ratio
      FROM toks
    )
    SELECT d.doc_id,
           ROUND(mx::DOUBLE / tot, 4) AS top_bigram_share,
           uniq_token_ratio,
           CASE WHEN mx::DOUBLE / tot > 0.1 THEN 1 ELSE 0 END AS is_repetitive
    FROM per_doc d JOIN uniq USING (doc_id)
    """,
)
def text_repetition_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition features per document: share of tokens in
    the single most frequent bigram, distinct-token ratio, and a
    repetitiveness flag (top-bigram share > 10%). Two partial-aggregatable
    groupBys over exploded bigrams — shuffles carry (doc, gram) groups."""
    docs = _t(spark, sf_dir, "documents")
    w = F.split(F.trim(F.col("text")), " ")
    per_gram = (
        docs.select(
            "doc_id",
            F.round(F.size(F.array_distinct(w)).cast("double") / F.size(w), 4).alias(
                "uniq_token_ratio"
            ),
            F.explode(grams_all(F.col("text"), 2)).alias("g"),
        )
        .groupBy("doc_id", "uniq_token_ratio", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    share = F.max("c").cast("double") / F.sum("c")
    return per_gram.groupBy("doc_id", "uniq_token_ratio").agg(
        F.round(share, 4).alias("top_bigram_share"),
        F.when(share > 0.1, F.lit(1)).otherwise(F.lit(0)).alias("is_repetitive"),
    ).select("doc_id", "top_bigram_share", "uniq_token_ratio", "is_repetitive")


@query(
    "dedup_contamination_ngram",
    """
    WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
    grams AS (
      SELECT doc_id, array_to_string(w[u.i:u.i+4], ' ') AS g
      FROM toks, LATERAL unnest(range(1, len(w) - 3)) u(i)
    ),
    bench AS (
      SELECT DISTINCT g FROM grams
      WHERE SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'
    ),
    corpus AS (
      SELECT DISTINCT doc_id, g FROM grams
      WHERE SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 1) <> '0'
    )
    SELECT doc_id, COUNT(*) AS n_contaminated_grams
    FROM corpus WHERE g IN (SELECT g FROM bench)
    GROUP BY doc_id
    """,
)
def dedup_contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection: corpus documents sharing any
    5-gram with a held-out benchmark set (here: the deterministic 1/16
    hash slice of the corpus standing in for an eval suite). The
    benchmark gram set is distinct-reduced then BROADCAST to the corpus
    side — at 100 TB the eval suites are MBs while the corpus is TBs, so
    the join never shuffles the corpus."""
    docs = _t(spark, sf_dir, "documents")
    # r10: distinct-gram generation via the Arrow kernel (2× the
    # interpreted zip_with chain, identical gram set). The hash-slice
    # split happens BEFORE the kernel — a filter cannot push through an
    # opaque mapInPandas (guide §4.2), so splitting first keeps the two
    # branches' scans disjoint (one total tokenize pass, as before when
    # Catalyst pushed the filter below the Generate).
    hd = hash_hex(F.col("doc_id"), 1)
    base = docs.select("doc_id", "text")
    bench = exploded_distinct_ngrams(base.filter(hd == "0"), 5).select("g").distinct()
    corpus = exploded_distinct_ngrams(base.filter(hd != "0"), 5)
    return (
        corpus.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated_grams"))
    )


@query(
    "pack_sequences_token_budget",
    f"""
    WITH d AS (
      SELECT doc_id,
             LENGTH(string_split(trim(text), ' ')) AS ntok,
             SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
             SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS hk
      FROM documents
    ),
    c AS (
      SELECT shard, ntok,
             SUM(ntok) OVER (PARTITION BY shard ORDER BY hk, doc_id) AS cum
      FROM d
    ),
    b AS (
      SELECT shard,
             CAST(FLOOR((cum - ntok) / {PACK_BUDGET}) AS BIGINT) AS bin_id, ntok
      FROM c
    )
    SELECT shard, bin_id, COUNT(*) AS n_docs, SUM(ntok) AS n_tokens
    FROM b GROUP BY shard, bin_id
    """,
)
def pack_sequences_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: documents are concatenated in a
    deterministic content-hash order and cut into fixed token-budget
    bins (concat-and-chunk). Sharded by the first hash hex digit so the
    running sum parallelizes 16 ways (at 100 TB: widen the shard prefix;
    the window stays a single in-shard sort, never a global one)."""
    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), " ")).alias("ntok"),
        hash_hex(F.col("doc_id"), 1).alias("shard"),
        hash_hex(F.col("doc_id"), 8).alias("hk"),
    )
    win = Window.partitionBy("shard").orderBy("hk", "doc_id")
    cum = F.sum("ntok").over(win)
    return (
        d.select(
            "shard",
            "ntok",
            F.floor((cum - F.col("ntok")) / PACK_BUDGET).alias("bin_id"),
        )
        .groupBy("shard", "bin_id")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("ntok").alias("n_tokens"))
    )


@query(
    "sample_temperature_mixture",
    """
    WITH per_lang AS (
      SELECT lang, COUNT(*) AS n_docs,
             SUM(LENGTH(string_split(trim(text), ' '))) AS n_tokens
      FROM documents GROUP BY lang
    ),
    shares AS (
      SELECT lang, n_docs, n_tokens,
             n_tokens::DOUBLE / SUM(n_tokens) OVER () AS share,
             SQRT(n_tokens::DOUBLE / SUM(n_tokens) OVER ()) AS wt
      FROM per_lang
    )
    SELECT lang, n_docs,
           ROUND(share, 4) AS token_share,
           ROUND(wt / SUM(wt) OVER (), 4) AS temp_rate
    FROM shares
    """,
)
def sample_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language mixture (alpha = 0.5, the multilingual
    LM standard): sampling probability proportional to sqrt of the
    language's token share, flattening head languages and boosting the
    tail. One tiny groupBy then arithmetic over #languages rows — the
    global windows run on an already-aggregated frame."""
    docs = _t(spark, sf_dir, "documents")
    per_lang = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.trim(F.col("text")), " "))).alias("n_tokens"),
    )
    total = per_lang.agg(F.sum("n_tokens").alias("tot"))
    shares = per_lang.crossJoin(F.broadcast(total)).select(
        "lang",
        "n_docs",
        (F.col("n_tokens").cast("double") / F.col("tot")).alias("share"),
        F.sqrt(F.col("n_tokens").cast("double") / F.col("tot")).alias("wt"),
    )
    wt_total = shares.agg(F.sum("wt").alias("wt_tot"))
    return shares.crossJoin(F.broadcast(wt_total)).select(
        "lang",
        "n_docs",
        F.round(F.col("share"), 4).alias("token_share"),
        F.round(F.col("wt") / F.col("wt_tot"), 4).alias("temp_rate"),
    )


@query(
    "events_sessionize",
    f"""
    WITH flagged AS (
      SELECT user_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch(ts) - epoch(lag(ts) OVER w) > {SESSION_GAP_S}
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, COUNT(*) AS n_events, SUM(new_session) AS n_sessions,
           ROUND(COUNT(*)::DOUBLE / SUM(new_session), 4) AS events_per_session
    FROM flagged GROUP BY user_id
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity boundary) via one
    window per user — the batch analogue of `F.session_window`, but with
    the session count/density exposed per user. Partitioned on user_id:
    exactly the key a 100 TB event log is naturally bucketed by."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("double") - F.lag("ts").over(w).cast("double")
    flagged = ev.select(
        "user_id",
        F.when(F.lag("ts").over(w).isNull() | (gap > SESSION_GAP_S), 1)
        .otherwise(0)
        .alias("new_session"),
    )
    return flagged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("new_session").alias("n_sessions"),
        F.round(F.count(F.lit(1)).cast("double") / F.sum("new_session"), 4).alias(
            "events_per_session"
        ),
    )


@query(
    "events_funnel_conversion",
    """
    WITH su AS (SELECT user_id, MIN(ts) AS t0 FROM events
                WHERE event_type = 'signup' GROUP BY user_id),
    pu AS (SELECT user_id, MIN(ts) AS t1 FROM events
           WHERE event_type = 'purchase' GROUP BY user_id),
    j AS (SELECT su.user_id, t0, t1,
                 CASE WHEN t1 >= t0 AND t1 <= t0 + INTERVAL 7 DAY THEN 1 ELSE 0 END AS conv
          FROM su LEFT JOIN pu USING (user_id))
    SELECT COUNT(*) AS n_signup_users,
           SUM(conv) AS n_converted,
           ROUND(SUM(conv)::DOUBLE / COUNT(*), 4) AS conv_rate,
           ROUND(AVG(CASE WHEN conv = 1
                          THEN FLOOR((epoch(t1) - epoch(t0)) / 60) END), 4)
             AS avg_minutes_to_convert
    FROM j
    """,
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup → purchase funnel with a 7-day conversion window: per-user
    first-touch times (partial-agg MIN), one equi-join, then a single-row
    summary. Delay is measured in whole minutes (integer floor) so the
    average is reduction-order-exact across engines."""
    ev = _t(spark, sf_dir, "events")
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    pu = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    conv = F.when(
        (F.col("t1") >= F.col("t0"))
        & (F.col("t1").cast("double") <= F.col("t0").cast("double") + 7 * 86400),
        1,
    ).otherwise(0)
    j = su.join(pu, "user_id", "left").select("t0", "t1", conv.alias("conv"))
    mins = F.floor((F.col("t1").cast("double") - F.col("t0").cast("double")) / 60)
    return j.agg(
        F.count(F.lit(1)).alias("n_signup_users"),
        F.sum("conv").alias("n_converted"),
        F.round(F.sum("conv").cast("double") / F.count(F.lit(1)), 4).alias("conv_rate"),
        F.round(F.avg(F.when(F.col("conv") == 1, mins)), 4).alias(
            "avg_minutes_to_convert"
        ),
    )


@query(
    "events_retention_cohorts",
    """
    WITH first_seen AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week FROM events
      GROUP BY user_id
    )
    SELECT CAST(f.cohort_week AS DATE) AS cohort_week,
           CAST(date_diff('day', f.cohort_week, date_trunc('week', e.ts)) / 7 AS BIGINT)
             AS week_offset,
           COUNT(DISTINCT e.user_id) AS n_active_users
    FROM events e JOIN first_seen f USING (user_id)
    GROUP BY 1, 2
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by first-seen week, counted
    in each subsequent active week. The cohort frame is per-user MINs
    (tiny vs the event log, but it scales with the user base); both dates
    are week-truncated so the offset arithmetic is exact integers."""
    ev = _t(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    # per-USER frame: broadcastable only at small SFs — AQE decides; at
    # scale this is a user-keyed shuffle join (both sides already
    # aggregate/join on user_id)
    joined = ev.join(first_seen, "user_id")
    return (
        joined.select(
            F.col("cohort_week").cast("date").alias("cohort_week"),
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week")) / 7
            )
            .cast("long")
            .alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_active_users"))
    )


_PRETRAIN_EXPORT_ORACLE = """
    WITH RECURSIVE toks0 AS (
      SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
    ), gated AS (
      SELECT doc_id, w,
             0.4 * LEAST(LENGTH(w)::DOUBLE / 100.0, 1.0)
           + 0.4 * (LENGTH(list_distinct(w))::DOUBLE / LENGTH(w))
           + 0.2 * (1.0 - LENGTH(list_filter(w, x -> x IN ('the', 'a')))::DOUBLE
                          / LENGTH(w)) AS score
      FROM toks0
      WHERE 0.4 * LEAST(LENGTH(w)::DOUBLE / 100.0, 1.0)
          + 0.4 * (LENGTH(list_distinct(w))::DOUBLE / LENGTH(w))
          + 0.2 * (1.0 - LENGTH(list_filter(w, x -> x IN ('the', 'a')))::DOUBLE
                         / LENGTH(w)) >= 0.55
    ), sh AS (
      SELECT doc_id,
             list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)])
               AS shingles
      FROM gated WHERE len(w) >= 3
    ),
    -- exact inverted-index Jaccard (see dedup._JACCARD_PAIRS_ORACLE_TPL)
    ex AS (SELECT doc_id, UNNEST(shingles) AS s FROM sh),
    inter AS (
      SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
    pairs AS (
      SELECT da AS doc_a, db AS doc_b FROM inter
      JOIN sz sa ON sa.doc_id = inter.da
      JOIN sz sb ON sb.doc_id = inter.db
      WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.8
    ), edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ), reach AS (
      SELECT doc_id AS node, doc_id AS lbl FROM gated
      UNION
      SELECT e.b AS node, r.lbl
      FROM reach r JOIN edges e ON e.a = r.node
      WHERE r.lbl < e.b
    ), comp AS (
      SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node
    ), ranked AS (
      SELECT comp.cluster_id, comp.node AS doc_id, g.score,
             LENGTH(g.w) AS n_tokens,
             ROW_NUMBER() OVER (
               PARTITION BY comp.cluster_id ORDER BY g.score DESC, comp.node
             ) AS rn
      FROM comp JOIN gated g ON g.doc_id = comp.node
    ), survivors AS (
      SELECT cluster_id, doc_id, score, n_tokens,
             CASE
               WHEN SUBSTRING(md5(CAST(cluster_id AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
               WHEN SUBSTRING(md5(CAST(cluster_id AS VARCHAR)), 1, 1) <= 'd' THEN 'val'
               ELSE 'test'
             END AS split
      FROM ranked WHERE rn = 1
    )
    SELECT split,
           COUNT(*) AS n_docs,
           SUM(n_tokens)::BIGINT AS total_tokens,
           ROUND(AVG(score), 4) AS avg_quality
    FROM survivors GROUP BY split ORDER BY split
"""


@query("pipeline_pretraining_export", _PRETRAIN_EXPORT_ORACLE)
def pipeline_pretraining_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone corpus-curation pipeline, end to end in ONE plan:
    quality-gate (score ≥ 0.55) → near-dup graph over the gated corpus
    (verified MinHash-LSH pairs) → connected components → keep the
    best-quality member per cluster (tie → lowest id) → leakage-safe
    split on the CLUSTER id → per-split export stats. Every stage is an
    operator verified on its own elsewhere in the registry; this query
    pins their composition — the order (gate before dedup, split by
    cluster) is the part pipelines get wrong.

    Scale notes: the gate is a scan projection; the only corpus-sized
    shuffles are LSH banding and the component iterations (both bounded
    by near-dup density); survivor choice is one window on cluster_id;
    the final agg is 3 groups."""
    from databricks_end_to_end_lakeflow_project_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )
    from databricks_end_to_end_lakeflow_project_spark.operators.sampling import (
        split_assign,
    )
    from databricks_end_to_end_lakeflow_project_spark.operators.textops import (
        quality_score,
        tokens,
    )

    docs = _t(spark, sf_dir, "documents")
    w = tokens(F.col("text"))
    gated = docs.select(
        "doc_id",
        "text",
        quality_score(w).alias("score"),
        F.size(w).cast("long").alias("n_tokens"),
    ).filter(F.col("score") >= 0.55)

    pairs = minhash_lsh_pairs(gated).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    comp = connected_components(
        gated.select(F.col("doc_id").alias("node")), pairs
    )
    joined = comp.join(
        gated.select("doc_id", "score", "n_tokens"),
        comp["node"] == F.col("doc_id"),
    ).select(F.col("component").alias("cluster_id"), "doc_id", "score", "n_tokens")
    win = Window.partitionBy("cluster_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    survivors = (
        joined.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") == 1)
        .select("cluster_id", "score", "n_tokens",
                split_assign(F.col("cluster_id")).alias("split"))
    )
    return (
        survivors.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("score"), 4).alias("avg_quality"),
        )
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# end-to-end pretraining capstone: the 100 TB rehearsal
# ---------------------------------------------------------------------------

_RUN_QUALITY_MIN = 0.55
_RUN_EPOCH_CAP = 4.0  # data-constrained repeat cap (≤4 passes per domain)
_RUN_SHARDS = 8
_RUN_EPOCH_SEED = 1
_RUN_CK_A = 1000003  # order-checksum moduli: keep products far from 2^63
_RUN_CK_B = 997
_RUN_CK_PACK = 9973

_RUN_WEIGHT_SQL = """CASE s.domain WHEN 'web' THEN 0.35 WHEN 'books' THEN 0.25
               WHEN 'code' THEN 0.25 ELSE 0.15 END"""

# mixture DOMAIN = a deterministic hash bucket of the source column (langid
# is the GATE; sources are what real mixtures weight). Hash-bucketing works
# for any source vocabulary, including the bench curve's replicated corpora.
_RUN_DOMAIN_SQL = """CASE ('0x' || SUBSTRING(md5(source), 1, 1))::BIGINT % 4
               WHEN 0 THEN 'web' WHEN 1 THEN 'books'
               WHEN 2 THEN 'code' ELSE 'forums' END"""


def _pretraining_run_oracle() -> str:
    from databricks_end_to_end_lakeflow_project_spark.operators.textops import (
        _langid_sql_hits,
    )

    return f"""
    WITH RECURSIVE t AS (
      SELECT doc_id, string_split(trim(text), ' ') AS w,
             LENGTH(string_split(trim(text), ' '))::BIGINT AS ntok,
             {_RUN_DOMAIN_SQL} AS domain
      FROM documents
    ), lid AS (
      SELECT doc_id, w, ntok, domain,
           {_langid_sql_hits()}
      FROM t
    ), langid AS (
      SELECT doc_id, w, ntok, domain
      FROM lid
      WHERE NOT (hits_en = 0 AND hits_fr = 0 AND hits_es = 0 AND hits_de = 0)
    ), gated AS (
      SELECT doc_id, w, ntok, domain,
             0.4 * LEAST(ntok::DOUBLE / 100.0, 1.0)
           + 0.4 * (LENGTH(list_distinct(w))::DOUBLE / ntok)
           + 0.2 * (1.0 - LENGTH(list_filter(w, x -> x IN ('the', 'a')))::DOUBLE
                          / ntok) AS score
      FROM langid
      WHERE 0.4 * LEAST(ntok::DOUBLE / 100.0, 1.0)
          + 0.4 * (LENGTH(list_distinct(w))::DOUBLE / ntok)
          + 0.2 * (1.0 - LENGTH(list_filter(w, x -> x IN ('the', 'a')))::DOUBLE
                         / ntok) >= {_RUN_QUALITY_MIN}
    ), sh AS (
      SELECT doc_id,
             list_distinct([array_to_string(w[i:i+2], ' ')
                            for i in range(1, len(w) - 1)]) AS shingles
      FROM gated WHERE len(w) >= 3
    ),
    -- exact inverted-index Jaccard (see dedup._JACCARD_PAIRS_ORACLE_TPL)
    ex AS (SELECT doc_id, UNNEST(shingles) AS s FROM sh),
    inter AS (
      SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
    lsh_pairs AS (
      SELECT da AS doc_a, db AS doc_b FROM inter
      JOIN sz sa ON sa.doc_id = inter.da
      JOIN sz sb ON sb.doc_id = inter.db
      WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.8
    ), edges AS (
      SELECT doc_a AS a, doc_b AS b FROM lsh_pairs
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM lsh_pairs
    ), reach AS (
      SELECT doc_id AS node, doc_id AS lbl FROM gated
      UNION
      SELECT e.b AS node, r.lbl
      FROM reach r JOIN edges e ON e.a = r.node
      WHERE r.lbl < e.b
    ), comp AS (
      SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node
    ), ranked AS (
      SELECT comp.node AS doc_id, g.w, g.ntok, g.domain,
             ROW_NUMBER() OVER (
               PARTITION BY comp.cluster_id ORDER BY g.score DESC, comp.node
             ) AS rn
      FROM comp JOIN gated g ON g.doc_id = comp.node
    ), deduped AS (
      SELECT doc_id, w, ntok, domain FROM ranked WHERE rn = 1
    ), grams AS (
      SELECT doc_id, array_to_string(w[u.i:u.i+4], ' ') AS g
      FROM t, LATERAL unnest(range(1, len(w) - 3)) u(i)
    ), bench AS (
      SELECT DISTINCT g FROM grams
      WHERE SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'
    ), contam AS (
      SELECT DISTINCT doc_id FROM grams WHERE g IN (SELECT g FROM bench)
    ), clean AS (
      SELECT d.doc_id, d.ntok, d.domain FROM deduped d
      WHERE SUBSTRING(md5(CAST(d.doc_id AS VARCHAR)), 1, 1) <> '0'
        AND d.doc_id NOT IN (SELECT doc_id FROM contam)
    ), stats AS (
      SELECT domain, CAST(SUM(ntok) AS BIGINT) AS avail
      FROM clean GROUP BY domain
    ), tot AS (
      SELECT CAST(SUM(avail) AS DOUBLE) AS total FROM stats
    ), plan AS (
      SELECT s.domain,
             LEAST({_RUN_WEIGHT_SQL} * t.total / CAST(s.avail AS DOUBLE),
                   {_RUN_EPOCH_CAP}) AS epochs
      FROM stats s CROSS JOIN tot t
    ), plan2 AS (
      SELECT domain, CAST(FLOOR(epochs) AS INT) AS n_full,
             CAST(FLOOR((epochs - FLOOR(epochs)) * 16777216.0) AS BIGINT) AS thr
      FROM plan
    ), copies AS (
      SELECT c.doc_id, c.domain, c.ntok, u.i AS copy_no
      FROM clean c JOIN plan2 p USING (domain),
           LATERAL unnest(range(0, p.n_full
             + CASE WHEN ('0x' || SUBSTRING(
                     md5('mix:' || CAST(c.doc_id AS VARCHAR)), 1, 6))::BIGINT
                    < p.thr THEN 1 ELSE 0 END)) u(i)
    ), emitted AS (
      SELECT doc_id * 8 + copy_no AS emit_key, domain, ntok FROM copies
    ), shuf AS (
      SELECT emit_key, domain, ntok,
             md5('{_RUN_EPOCH_SEED}:' || CAST(emit_key AS VARCHAR)) AS hkey
      FROM emitted
    ), ordered AS (
      SELECT emit_key, domain, ntok,
             CAST(('0x' || SUBSTRING(hkey, 1, 4))::BIGINT % {_RUN_SHARDS}
                  AS INT) AS shard,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY ('0x' || SUBSTRING(hkey, 1, 4))::BIGINT
                            % {_RUN_SHARDS}
               ORDER BY hkey, emit_key) AS BIGINT) AS pos
      FROM shuf
    ), packed AS (
      SELECT shard, ntok,
             CAST(FLOOR((SUM(ntok) OVER (PARTITION BY shard ORDER BY pos)
                         - ntok) / {PACK_BUDGET}) AS BIGINT) AS bin_id
      FROM ordered
    ), bins AS (
      SELECT shard, bin_id, CAST(SUM(ntok) AS BIGINT) AS bin_tokens
      FROM packed GROUP BY shard, bin_id
    )
    SELECT 1 AS stage_ord, 'raw' AS stage, COUNT(*)::BIGINT AS n_rows,
           CAST(SUM(ntok) AS BIGINT) AS n_tokens,
           CAST(SUM(doc_id) AS BIGINT) AS checksum FROM t
    UNION ALL SELECT 2, 'langid', COUNT(*), CAST(SUM(ntok) AS BIGINT),
           CAST(SUM(doc_id) AS BIGINT) FROM langid
    UNION ALL SELECT 3, 'quality', COUNT(*), CAST(SUM(ntok) AS BIGINT),
           CAST(SUM(doc_id) AS BIGINT) FROM gated
    UNION ALL SELECT 4, 'dedup', COUNT(*), CAST(SUM(ntok) AS BIGINT),
           CAST(SUM(doc_id) AS BIGINT) FROM deduped
    UNION ALL SELECT 5, 'decontam', COUNT(*), CAST(SUM(ntok) AS BIGINT),
           CAST(SUM(doc_id) AS BIGINT) FROM clean
    UNION ALL SELECT 6, 'mixture', COUNT(*), CAST(SUM(ntok) AS BIGINT),
           CAST(SUM(emit_key) AS BIGINT) FROM emitted
    UNION ALL SELECT 7, 'shuffle', COUNT(*), CAST(SUM(ntok) AS BIGINT),
           CAST(SUM((emit_key % {_RUN_CK_A}) * (pos % {_RUN_CK_B}))
                AS BIGINT) FROM ordered
    UNION ALL SELECT 8, 'pack', COUNT(*), CAST(SUM(bin_tokens) AS BIGINT),
           CAST(SUM((shard + 1) * (bin_id + 1) * (bin_tokens % {_RUN_CK_PACK}))
                AS BIGINT) FROM bins
    UNION ALL SELECT 9, 'export:' || domain, COUNT(*),
           CAST(SUM(ntok) AS BIGINT), CAST(SUM(emit_key) AS BIGINT)
      FROM emitted GROUP BY domain
    ORDER BY stage_ord, stage
    """


def pretraining_run(docs: DataFrame) -> DataFrame:
    """The full pretraining data pipeline as ONE plan over (doc_id,
    text, source) — the 100 TB rehearsal the LLM-ops stack exists for,
    chaining the individually-verified operators in curation order:

    langid gate (lexicon argmax ≠ unknown) → quality gate (score ≥
    0.55) → MinHash-LSH near-dup
    graph + connected components, best-quality survivor per cluster →
    benchmark decontamination (any shared 5-gram with the held-out
    hash-slice eval set drops the doc) → token-budget mixture over
    source-derived DOMAINS (source hash-bucketed into web/books/code/
    forums — sources are what real mixtures weight; per-domain epochs =
    weight·budget/avail, capped at {cap} passes; full copies +
    hash-thresholded fractional pass) → epoch-seeded deterministic
    shuffle (shard, pos) → GPT-style concat-and-chunk packing into
    {budget}-token bins in shuffle order → per-domain export stats.

    Returns one row per STAGE: (stage_ord, stage, n_rows, n_tokens,
    checksum) — the survivor funnel every data card reports. Checksums
    pin content (Σ doc_id / Σ emit_key), ORDER (Σ (key mod a)·(pos mod
    b) over the shuffle), and packing (Σ shard·bin·token terms), so the
    DuckDB oracle catches a wrong survivor set, a wrong training order,
    and a wrong bin cut — not just wrong counts.

    Scale notes: every stage is the scale shape its standalone operator
    already proved — the gates are scan projections; LSH is banded
    candidate generation (never all-pairs); CC state scales with
    duplicate mass; the benchmark gram set broadcasts (eval suites are
    MBs); the mixture plan is a #domains-row broadcast and the epoch
    fan-out is row-local; the shuffle is one hash exchange + shard-local
    sorts (never a global sort); packing is the same per-shard window.
    Nothing in the chain materializes the corpus more than the
    persist-marked narrow frames (ids + token counts, no text)."""
    from databricks_end_to_end_lakeflow_project_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )
    from databricks_end_to_end_lakeflow_project_spark.operators.sampling import (
        epoch_shuffle,
    )
    from databricks_end_to_end_lakeflow_project_spark.operators.textops import (
        LEXICONS,
        quality_score,
        stopword_hits,
        tokens,
    )
    from databricks_end_to_end_lakeflow_project_spark.session import persist_once

    w = tokens(F.col("text"))
    domain = (
        F.conv(hash_hex(F.col("source"), 1), 16, 10).cast("long") % 4
    )
    hits = {lang: stopword_hits(w, lex) for lang, lex in LEXICONS.items()}
    known = ~(
        (hits["en"] == 0) & (hits["fr"] == 0) & (hits["es"] == 0) & (hits["de"] == 0)
    )
    score = quality_score(w)
    # ONE persisted narrow feature pass (ids + counts + gate flags, no
    # text — the stage-funnel policy): until r10 the tokenize + 6
    # interpreted stopword/distinct HOF folds re-ran for every consumer
    # of t/langid/gated (stage rows, LSH input, CC rank join — 4 full
    # passes, ~1.1 s each at sf0.01; guide §5 "cache only when reused
    # AND recompute is expensive" — both hold here)
    feat = persist_once(
        docs.select(
            "doc_id",
            F.size(w).cast("long").alias("ntok"),
            F.when(domain == 0, "web")
            .when(domain == 1, "books")
            .when(domain == 2, "code")
            .otherwise("forums")
            .alias("domain"),
            known.alias("known"),
            score.alias("score"),
        )
    )
    t = feat  # stage-1 funnel row reads the cache
    langid = feat.filter(F.col("known"))
    gated = langid.filter(F.col("score") >= _RUN_QUALITY_MIN)

    # LSH needs the text back for the gated survivors only: re-attach by
    # id (text never enters the cache; the join side is the narrow id
    # frame, so AQE broadcasts it)
    gated_text = docs.select("doc_id", "text").join(
        gated.select("doc_id"), "doc_id"
    )
    pairs = minhash_lsh_pairs(gated_text).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    comp = connected_components(
        gated.select(F.col("doc_id").alias("node")), pairs
    )
    ranked = comp.join(
        gated.select("doc_id", "ntok", "domain", "score"),
        comp["node"] == F.col("doc_id"),
    ).select(F.col("component").alias("cluster_id"), "doc_id", "ntok", "domain", "score")
    win = Window.partitionBy("cluster_id").orderBy(F.col("score").desc(), "doc_id")
    deduped = persist_once(
        ranked.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") == 1)
        .select("doc_id", "ntok", "domain")
    )

    # r10: distinct-gram kernel (was a non-distinct interpreted explode —
    # both consumers apply .distinct() downstream, so per-doc distinct
    # generation is result-identical and strictly fewer rows), with the
    # hash split BEFORE the opaque kernel so the scans stay disjoint
    hd = hash_hex(F.col("doc_id"), 1)
    dbase = docs.select("doc_id", "text")
    bench = (
        exploded_distinct_ngrams(dbase.filter(hd == "0"), 5).select("g").distinct()
    )
    contam = (
        exploded_distinct_ngrams(dbase.filter(hd != "0"), 5)
        .join(F.broadcast(bench), "g")
        .select("doc_id")
        .distinct()
    )
    clean = persist_once(
        deduped.filter(hash_hex(F.col("doc_id"), 1) != "0").join(
            contam, "doc_id", "left_anti"
        )
    )

    stats = clean.groupBy("domain").agg(F.sum("ntok").cast("long").alias("avail"))
    total = stats.agg(F.sum("avail").cast("double").alias("total"))
    wcol = (
        F.when(F.col("domain") == "web", 0.35)
        .when(F.col("domain") == "books", 0.25)
        .when(F.col("domain") == "code", 0.25)
        .otherwise(0.15)
    )
    epochs = F.least(
        wcol * F.col("total") / F.col("avail").cast("double"),
        F.lit(_RUN_EPOCH_CAP),
    )
    plan = stats.crossJoin(F.broadcast(total)).select(
        "domain",
        F.floor(epochs).cast("int").alias("n_full"),
        F.floor((epochs - F.floor(epochs)) * F.lit(16777216.0))
        .cast("long")
        .alias("thr"),
    )
    joined = clean.join(F.broadcast(plan), "domain")
    draw = F.conv(
        hash_hex(F.concat(F.lit("mix:"), F.col("doc_id").cast("string")), 6), 16, 10
    ).cast("long")
    emitted = persist_once(
        joined.withColumn(
            "n_copies", F.col("n_full") + (draw < F.col("thr")).cast("int")
        )
        .select(
            "doc_id",
            "domain",
            "ntok",
            F.posexplode(F.array_repeat(F.lit(1), F.col("n_copies"))).alias(
                "copy_no", "_one"
            ),
        )
        .select(
            (F.col("doc_id") * 8 + F.col("copy_no")).cast("long").alias("emit_key"),
            "domain",
            "ntok",
        )
    )

    shuf = epoch_shuffle(
        emitted, F.col("emit_key"), _RUN_EPOCH_SEED, _RUN_SHARDS
    ).withColumnRenamed("k", "emit_key")
    ordered = persist_once(shuf.join(emitted, "emit_key"))

    pwin = Window.partitionBy("shard").orderBy("pos")
    cum = F.sum("ntok").over(pwin)
    bins = (
        ordered.select(
            "shard",
            "ntok",
            F.floor((cum - F.col("ntok")) / PACK_BUDGET).alias("bin_id"),
        )
        .groupBy("shard", "bin_id")
        .agg(F.sum("ntok").cast("long").alias("bin_tokens"))
    )

    def stage_row(df, ord_, name, tok_col, ck_col):
        return (
            df.groupBy()
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(tok_col).cast("long").alias("n_tokens"),
                F.sum(ck_col).cast("long").alias("checksum"),
            )
            .select(
                F.lit(ord_).cast("int").alias("stage_ord"),
                F.lit(name).alias("stage"),
                "n_rows",
                "n_tokens",
                "checksum",
            )
        )

    doc_ck = F.col("doc_id")
    rows = stage_row(t, 1, "raw", F.col("ntok"), doc_ck)
    for df, ord_, name in [
        (langid, 2, "langid"),
        (gated, 3, "quality"),
        (deduped, 4, "dedup"),
        (clean, 5, "decontam"),
    ]:
        rows = rows.unionByName(stage_row(df, ord_, name, F.col("ntok"), doc_ck))
    rows = rows.unionByName(
        stage_row(emitted, 6, "mixture", F.col("ntok"), F.col("emit_key"))
    )
    rows = rows.unionByName(
        stage_row(
            ordered,
            7,
            "shuffle",
            F.col("ntok"),
            (F.col("emit_key") % _RUN_CK_A) * (F.col("pos") % _RUN_CK_B),
        )
    )
    rows = rows.unionByName(
        stage_row(
            bins,
            8,
            "pack",
            F.col("bin_tokens"),
            (F.col("shard") + 1).cast("long")
            * (F.col("bin_id") + 1)
            * (F.col("bin_tokens") % _RUN_CK_PACK),
        )
    )
    export = (
        emitted.groupBy("domain")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("ntok").cast("long").alias("n_tokens"),
            F.sum("emit_key").cast("long").alias("checksum"),
        )
        .select(
            F.lit(9).cast("int").alias("stage_ord"),
            F.concat(F.lit("export:"), F.col("domain")).alias("stage"),
            "n_rows",
            "n_tokens",
            "checksum",
        )
    )
    return rows.unionByName(export).orderBy("stage_ord", "stage")


@query("pipeline_pretraining_run", _pretraining_run_oracle())
def pipeline_pretraining_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry for :func:`pretraining_run` over the `documents`
    table — green here means the DuckDB oracle replays the ENTIRE
    8-stage pipeline (langid → quality → LSH dedup → decontamination →
    mixture → shuffle → pack → export) and every stage's survivor
    count, token total, and content/order checksum match exactly.
    bench.py's dedup curve runs the same callable at 50k and 500k docs
    and records the wall time + funnel."""
    return pretraining_run(
        _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    )


@query(
    "events_dau_wau_mau",
    """
    WITH dau AS (
      SELECT date_trunc('day', ts)::DATE AS day, COUNT(DISTINCT user_id) AS dau
      FROM events GROUP BY 1
    ), wau AS (
      SELECT date_trunc('week', ts)::DATE AS week, COUNT(DISTINCT user_id) AS wau
      FROM events GROUP BY 1
    ), mau AS (
      SELECT date_trunc('month', ts)::DATE AS month, COUNT(DISTINCT user_id) AS mau
      FROM events GROUP BY 1
    )
    SELECT d.day, d.dau, w.wau, m.mau,
           ROUND(d.dau::DOUBLE / m.mau, 4) AS stickiness
    FROM dau d
    JOIN wau w ON date_trunc('week', d.day)::DATE = w.week
    JOIN mau m ON date_trunc('month', d.day)::DATE = m.month
    ORDER BY d.day
    """,
)
def events_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU/MAU active-user rollups with DAU/MAU stickiness — the
    product-analytics staple. Three independent exact COUNT(DISTINCT)
    aggregations at calendar grains, joined back on derived period keys
    (both period frames are tiny → broadcast). At 100 TB swap the exact
    distincts for the mergeable HLL sketches of `agg_hll_sketch_union` —
    same query shape, kilobyte state per period."""
    ev = _t(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).cast("date")
    dau = ev.groupBy(day.alias("day")).agg(
        F.countDistinct("user_id").alias("dau")
    )
    wau = ev.groupBy(F.date_trunc("week", F.col("ts")).cast("date").alias("week")).agg(
        F.countDistinct("user_id").alias("wau")
    )
    mau = ev.groupBy(F.date_trunc("month", F.col("ts")).cast("date").alias("month")).agg(
        F.countDistinct("user_id").alias("mau")
    )
    return (
        dau.join(
            F.broadcast(wau),
            F.date_trunc("week", F.col("day")).cast("date") == F.col("week"),
        )
        .join(
            F.broadcast(mau),
            F.date_trunc("month", F.col("day")).cast("date") == F.col("month"),
        )
        .select(
            "day", "dau", "wau", "mau",
            F.round(F.col("dau").cast("double") / F.col("mau"), 4).alias("stickiness"),
        )
        .orderBy("day")
    )


_QSCORE_Q_SQL = """CAST(ROUND((0.4 * LEAST(LENGTH(w)::DOUBLE / 100.0, 1.0)
         + 0.4 * LENGTH(list_distinct(w))::DOUBLE / LENGTH(w)
         + 0.2 * (1.0 - LENGTH(list_filter(w, x -> x IN ('the', 'a')))::DOUBLE
                        / LENGTH(w))) * 10000.0) AS BIGINT)"""


@query(
    "curation_source_reputation_gate",
    f"""
    WITH scored AS (
      SELECT source, {_QSCORE_Q_SQL} AS q
      FROM (SELECT source, string_split(trim(text), ' ') AS w FROM documents)
    ), per_src AS (
      SELECT source, COUNT(*) AS n_docs, SUM(q) AS sum_q FROM scored
      GROUP BY source
    ), tot AS (
      SELECT SUM(n_docs) AS n_all, SUM(sum_q) AS sum_all FROM per_src
    ), gated AS (
      SELECT p.*, (p.sum_q * t.n_all >= t.sum_all * p.n_docs) AS passed
      FROM per_src p CROSS JOIN tot t
    ), kept AS (
      SELECT s.source, COUNT(*) AS n_docs_kept
      FROM scored s JOIN gated g USING (source)
      WHERE g.passed AND s.q * g.n_docs >= g.sum_q
      GROUP BY s.source
    )
    SELECT g.source, CAST(g.n_docs AS BIGINT) AS n_docs,
           ROUND(g.sum_q / g.n_docs / 10000.0, 4) AS mean_quality,
           g.passed,
           CAST(COALESCE(k.n_docs_kept, 0) AS BIGINT) AS n_docs_kept
    FROM gated g LEFT JOIN kept k USING (source)
    ORDER BY g.source
    """,
)
def curation_source_reputation_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source/domain-level reputation gating (the RefinedWeb / C4
    curation move: judge the *site*, then the page) — score every doc
    with the composite quality formula, aggregate a per-``source``
    reputation, PASS sources whose mean quality is at or above the
    corpus mean, then within passing sources keep only the docs at or
    above their own source's mean.

    Cross-engine exactness: the per-doc score is quantized to a
    fixed-point long (1e-4) BEFORE any aggregation, so the sums are
    order-independent integers, and both gates compare by integer
    cross-multiplication (``sum_q*n_all >= sum_all*n_docs``), never a
    double division — the repo's scalerank/DSIR rule. (At true 100 TB
    the cross-products need DECIMAL(38,0) or a pre-divided double mean;
    the fixture longs are exact to ~1e14 docs x 1e4 score.)

    Distributed shape: one scan computes row-local scores; one
    map-side-partial groupBy over #sources keys; a 1-row corpus total
    broadcast-joined back (never an unpartitioned window); the
    #sources-row gate frame broadcast into a second scan for the
    per-doc keep filter. Two scans, two tiny shuffles — no corpus-scale
    exchange, no window."""
    from databricks_end_to_end_lakeflow_project_spark.operators.textops import (
        quality_score,
        tokens,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    score = quality_score(tokens(F.col("text")))
    scored = docs.select(
        "source", F.round(score * 10000.0).cast("long").alias("q")
    )
    per_src = scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("q").alias("sum_q")
    )
    tot = per_src.agg(
        F.sum("n_docs").alias("n_all"), F.sum("sum_q").alias("sum_all")
    )
    gated = per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "sum_q",
        (F.col("sum_q") * F.col("n_all") >= F.col("sum_all") * F.col("n_docs")).alias(
            "passed"
        ),
    )
    kept = (
        scored.join(F.broadcast(gated), "source")
        .filter(F.col("passed") & (F.col("q") * F.col("n_docs") >= F.col("sum_q")))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs_kept"))
    )
    return (
        gated.join(kept, "source", "left")
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.round(F.col("sum_q") / F.col("n_docs") / 10000.0, 4).alias(
                "mean_quality"
            ),
            "passed",
            F.coalesce("n_docs_kept", F.lit(0)).cast("long").alias("n_docs_kept"),
        )
        .orderBy("source")
    )


_PACK_CANDIDATE_LENS = [512, 1024, 2048]


@query(
    "curation_pack_efficiency",
    f"""
    WITH lens AS (
      SELECT doc_id, len(string_split(trim(text), ' ')) AS n_tok FROM documents
    ), cand AS (
      SELECT * FROM (VALUES {", ".join(f"({L})" for L in _PACK_CANDIDATE_LENS)})
        AS t(seq_len)
    )
    SELECT c.seq_len,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(l.n_tok) AS BIGINT) AS total_tokens,
           CAST(SUM(CAST(CEIL(l.n_tok / CAST(c.seq_len AS DOUBLE)) AS BIGINT)
                    * c.seq_len) AS BIGINT) AS padded_tokens,
           CAST(FLOOR((SUM(CAST(CEIL(l.n_tok / CAST(c.seq_len AS DOUBLE)) AS BIGINT)
                           * c.seq_len) - SUM(l.n_tok)) * 1000000
                      / SUM(CAST(CEIL(l.n_tok / CAST(c.seq_len AS DOUBLE)) AS BIGINT)
                            * c.seq_len)) AS BIGINT) AS waste_ppm
    FROM lens l CROSS JOIN cand c
    GROUP BY c.seq_len ORDER BY c.seq_len
    """,
)
def curation_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length decision support: for each candidate training
    sequence length (512/1024/2048), the padding waste if every document
    is chunked to that length and the tail chunk padded — the number a
    pretraining team compares against sequence packing (`
    pack_sequences_token_budget`) before burning GPU-hours on dead
    tokens. ``waste_ppm`` is the fraction of padded positions that carry
    no content, in ppm.

    All arithmetic is integer-exact (chunk counts via CEIL on an exact
    integer/double ratio — identical IEEE doubles both engines — and a
    FLOOR'd ppm cross-ratio). Shape: one scan computes row-local token
    counts, the 3-row candidate frame broadcasts through a cross join
    (3x row multiplier, not a shuffle), and the rollup is a 3-key
    partial-aggregatable groupBy."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    lens = docs.select(
        F.size(F.split(F.trim(F.col("text")), " ")).alias("n_tok")
    )
    cand_df = docs.sparkSession.createDataFrame(
        [(L,) for L in _PACK_CANDIDATE_LENS], "seq_len int"
    )
    joined = lens.crossJoin(F.broadcast(cand_df))
    chunks = F.ceil(F.col("n_tok") / F.col("seq_len").cast("double")).cast("long")
    padded = chunks * F.col("seq_len")
    return (
        joined.groupBy("seq_len")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.sum(padded).cast("long").alias("padded_tokens"),
        )
        .select(
            "seq_len",
            "n_docs",
            "total_tokens",
            "padded_tokens",
            F.floor(
                (F.col("padded_tokens") - F.col("total_tokens"))
                * 1000000
                / F.col("padded_tokens")
            )
            .cast("long")
            .alias("waste_ppm"),
        )
        .orderBy("seq_len")
    )


@query(
    "pipeline_dataset_card",
    f"""
    WITH t AS (
      SELECT doc_id, lang, source, n_chars,
             string_split(trim(text), ' ') AS w,
             md5(array_to_string(string_split(trim(text), ' ')[1:10], ' ')) AS fp
      FROM documents
    ), base AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(w)) AS BIGINT) AS n_tokens,
             CAST(SUM(n_chars) AS BIGINT) AS n_chars,
             CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(SUM({_QSCORE_Q_SQL}) AS BIGINT) AS sum_q
      FROM t
    ), top_lang AS (
      SELECT lang AS top_lang, COUNT(*) AS lang_n FROM t
      GROUP BY lang ORDER BY lang_n DESC, lang LIMIT 1
    ), dups AS (
      SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_dup_docs
      FROM (SELECT COUNT(*) AS c FROM t GROUP BY fp HAVING COUNT(*) > 1)
    )
    SELECT b.n_docs, b.n_tokens, b.n_chars, b.n_sources, b.n_langs,
           l.top_lang,
           CAST(FLOOR(l.lang_n * 1000000 / b.n_docs) AS BIGINT)
             AS top_lang_ppm,
           d.n_dup_docs,
           CAST(FLOOR(d.n_dup_docs * 1000000 / b.n_docs) AS BIGINT) AS dup_ppm,
           ROUND(b.sum_q / b.n_docs / 10000.0, 4) AS mean_quality
    FROM base b CROSS JOIN top_lang l CROSS JOIN dups d
    """,
)
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset card in one query — the summary table every released
    corpus ships (HuggingFace dataset-card "Dataset Statistics"
    section): sizes (docs/tokens/chars), source and language diversity,
    the dominant language with its share, duplicate mass under the
    prefix-fingerprint signal, and mean quality — each number
    integer-exact or fixed-point so the card is reproducible
    bit-for-bit on any engine or cluster.

    Shape: one scan feeds a single multi-aggregate (every statistic is
    partial-aggregatable — COUNT DISTINCT over bounded-cardinality
    columns, fixed-point quality sum), plus a #langs-key mode lookup and
    a fingerprint groupBy; the three 1-row frames broadcast-join into
    the final row. At 100 TB the card costs ~two scans of the projected
    columns."""
    from databricks_end_to_end_lakeflow_project_spark.operators.textops import (
        quality_score,
        tokens,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars", "text"
    )
    w = tokens(F.col("text"))
    score = quality_score(w)
    fp = F.md5(F.concat_ws(" ", F.slice(w, 1, 10)).cast("binary"))
    t = docs.select(
        "lang",
        "source",
        "n_chars",
        F.size(w).alias("n_tok"),
        F.round(score * 10000.0).cast("long").alias("q"),
        fp.alias("fp"),
    )
    base = t.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.sum("n_chars").cast("long").alias("n_chars"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.sum("q").cast("long").alias("sum_q"),
    )
    top_lang = (
        t.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("lang_n"))
        .orderBy(F.col("lang_n").desc(), "lang")
        .limit(1)
        .select(F.col("lang").alias("top_lang"), "lang_n")
    )
    dups = (
        t.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_dup_docs"))
    )
    return (
        base.crossJoin(F.broadcast(top_lang))
        .crossJoin(F.broadcast(dups))
        .select(
            "n_docs",
            "n_tokens",
            "n_chars",
            "n_sources",
            "n_langs",
            "top_lang",
            F.floor(F.col("lang_n") * 1000000 / F.col("n_docs"))
            .cast("long")
            .alias("top_lang_ppm"),
            "n_dup_docs",
            F.floor(F.col("n_dup_docs") * 1000000 / F.col("n_docs"))
            .cast("long")
            .alias("dup_ppm"),
            F.round(F.col("sum_q") / F.col("n_docs") / 10000.0, 4).alias(
                "mean_quality"
            ),
        )
    )


@query(
    "monitor_data_contract_check",
    """
    WITH n AS (SELECT COUNT(*) AS total FROM orders),
    v AS (
      SELECT 'totalprice_positive' AS rule,
             COUNT(*) FILTER (WHERE o_totalprice <= 0) AS n_violations
      FROM orders
      UNION ALL
      SELECT 'orderdate_in_window',
             COUNT(*) FILTER (WHERE o_orderdate < DATE '1995-01-01'
                               OR o_orderdate > DATE '2001-12-31')
      FROM orders
      UNION ALL
      SELECT 'status_enum',
             COUNT(*) FILTER (WHERE o_orderstatus NOT IN ('O', 'F', 'P'))
      FROM orders
      UNION ALL
      SELECT 'priority_format',
             COUNT(*) FILTER (WHERE NOT regexp_matches(o_orderpriority,
                                                       '^[1-5]-'))
      FROM orders
      UNION ALL
      SELECT 'custkey_fk_resolves', COUNT(*)
      FROM orders o ANTI JOIN customer c ON o.o_custkey = c.c_custkey
    )
    SELECT rule, n_violations,
           ROUND(100.0 * n_violations / n.total, 4) AS pct_violating
    FROM v CROSS JOIN n ORDER BY rule
    """,
)
def monitor_data_contract_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract validation gate for a published table: five typed
    rules over `orders` — positivity, date window, status enum, priority
    format, FK resolution — each reported as a (rule, violations, %) row
    EVEN WHEN CLEAN, so downstream consumers can distinguish 'checked and
    passed' from 'not checked'. The batch-table twin of the DLT
    expectations runtime (`pipeline/expectations.py`), shaped for
    contract registries rather than pipeline flow control.

    CORPUS COUPLING: the orderdate window 1995-01-01..2001-12-31 matches
    THIS repo's synthetic testdata generator (see TESTDATA.md), not
    canonical TPC-H (1992–1998) — on canonical data the rule would flag
    most rows. A regenerated corpus with a different date range must
    update the window here and in the oracle SQL together, or the
    'clean corpus reports zeros' test breaks by design (the gate is
    doing its job on out-of-contract data).

    Plan: the four row-local rules share ONE scan (conditional
    aggregates); the FK rule is a broadcast anti-join against the dim.
    Output is rule-cardinality rows; nothing scales with the fact.
    """
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    viol = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    rowlocal = orders.agg(
        F.count(F.lit(1)).alias("total"),
        viol(F.col("o_totalprice") <= 0).alias("totalprice_positive"),
        viol(
            (F.col("o_orderdate") < F.lit("1995-01-01").cast("date"))
            | (F.col("o_orderdate") > F.lit("2001-12-31").cast("date"))
        ).alias("orderdate_in_window"),
        viol(~F.col("o_orderstatus").isin("O", "F", "P")).alias("status_enum"),
        viol(~F.col("o_orderpriority").rlike("^[1-5]-")).alias(
            "priority_format"
        ),
    )
    fk = orders.join(
        F.broadcast(cust.select(F.col("c_custkey").alias("o_custkey"))),
        "o_custkey",
        "left_anti",
    ).agg(F.count(F.lit(1)).alias("custkey_fk_resolves"))
    wide = rowlocal.crossJoin(fk)
    rules = [
        "custkey_fk_resolves",
        "orderdate_in_window",
        "priority_format",
        "status_enum",
        "totalprice_positive",
    ]
    stacked = wide.select(
        "total",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(r).alias("rule"), F.col(r).alias("n_violations"))
                    for r in rules
                ]
            )
        ).alias("kv"),
    )
    return stacked.select(
        F.col("kv.rule").alias("rule"),
        F.col("kv.n_violations").alias("n_violations"),
        F.round(100.0 * F.col("kv.n_violations") / F.col("total"), 4).alias(
            "pct_violating"
        ),
    ).orderBy("rule")


# ---------------------------------------------------------------------------
# round-6 addition (session 2): leave-one-out source influence
# ---------------------------------------------------------------------------


@query(
    "curation_loo_source_influence",
    """
    WITH per_source AS (
      SELECT source, COUNT(*) AS n_docs, SUM(n_chars) AS sum_chars
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT SUM(n_docs) AS n_all, SUM(sum_chars) AS sum_all FROM per_source
    )
    SELECT source, n_docs,
           ROUND(sum_chars::DOUBLE / n_docs, 6) AS mean_chars,
           ROUND((sum_all - sum_chars)::DOUBLE / (n_all - n_docs), 6)
             AS loo_mean,
           ROUND(sum_all::DOUBLE / n_all
                 - (sum_all - sum_chars)::DOUBLE / (n_all - n_docs), 6)
             AS influence
    FROM per_source, tot
    ORDER BY source
    """,
)
def curation_loo_source_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out influence of each source on the corpus mean — the
    cheapest member of the data-valuation family (Shapley values need
    2^n retrainings; LOO on an additive statistic is CLOSED-FORM from
    per-group sums): influence(s) = mean(all) − mean(all \\ s). A source
    whose removal moves the corpus-level statistic the most is the first
    candidate for reweighting or audit in a pretraining mixture.

    Plan: one map-side-combinable groupBy(source) over the corpus, a
    1-row total collected as a scalar cursor, then per-source arithmetic
    — the corpus is scanned ONCE regardless of source count, vs the
    naive n_sources re-aggregations. Exactness: integer sums; each
    division is a single IEEE double op identical in both engines,
    rounded to 6.
    """
    per_source = (
        read_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )
    tot = per_source.agg(
        F.sum("n_docs").alias("n_all"), F.sum("sum_chars").alias("sum_all")
    ).collect()[0]
    n_all, sum_all = int(tot["n_all"]), int(tot["sum_all"])
    loo = (F.lit(sum_all) - F.col("sum_chars")).cast("double") / (
        F.lit(n_all) - F.col("n_docs")
    )
    return per_source.select(
        "source",
        "n_docs",
        F.round(F.col("sum_chars").cast("double") / F.col("n_docs"), 6).alias(
            "mean_chars"
        ),
        F.round(loo, 6).alias("loo_mean"),
        F.round(F.lit(float(sum_all) / float(n_all)) - loo, 6).alias("influence"),
    ).orderBy("source")


@query(
    "pipeline_release_diff",
    """
    WITH v1 AS (
      SELECT doc_id, source, text FROM documents WHERE doc_id % 10 < 9
    ),
    v2 AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 13 = 0 THEN reverse(text) ELSE text END AS text
      FROM documents WHERE doc_id % 10 > 0
    ),
    diff AS (
      SELECT COALESCE(a.source, b.source) AS source,
             CASE
               WHEN a.doc_id IS NULL THEN 'added'
               WHEN b.doc_id IS NULL THEN 'removed'
               WHEN a.text <> b.text THEN 'changed'
               ELSE 'unchanged'
             END AS status
      FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id
    )
    SELECT source,
           SUM(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS n_unchanged,
           SUM(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS n_changed,
           SUM(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS n_added,
           SUM(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS n_removed
    FROM diff GROUP BY source ORDER BY source
    """,
)
def pipeline_release_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset release diff — the change report every corpus release
    ships (v2.1 vs v2.0: what was added, what was removed, what content
    changed in place), here between two deterministic synthetic releases
    of the documents table (v1 = 90% head slice, v2 = 90% tail slice
    with every 13th doc's text rewritten): one FULL OUTER equi-join on
    the doc key, row-status classification, per-source rollup.

    Scale: the join shuffles both releases on doc_id once; the text
    comparison here is direct string equality — at 100 TB compare the
    64-bit content fingerprints (`text_fingerprint`) instead so the
    shuffle carries ids + hashes, never the text payload. The rollup is
    map-side combinable.
    """
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    v1 = docs.filter(F.col("doc_id") % 10 < 9).select(
        F.col("doc_id").alias("id_a"), F.col("source").alias("src_a"),
        F.col("text").alias("text_a"),
    )
    v2 = docs.filter(F.col("doc_id") % 10 > 0).select(
        F.col("doc_id").alias("id_b"), F.col("source").alias("src_b"),
        F.when(F.col("doc_id") % 13 == 0, F.reverse(F.col("text")))
        .otherwise(F.col("text"))
        .alias("text_b"),
    )
    diff = v1.join(v2, v1["id_a"] == v2["id_b"], "full_outer").select(
        F.coalesce(F.col("src_a"), F.col("src_b")).alias("source"),
        F.when(F.col("id_a").isNull(), "added")
        .when(F.col("id_b").isNull(), "removed")
        .when(F.col("text_a") != F.col("text_b"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )
    return (
        diff.groupBy("source")
        .agg(
            *[
                F.sum(F.when(F.col("status") == s, 1).otherwise(0)).alias(f"n_{s}")
                for s in ("unchanged", "changed", "added", "removed")
            ]
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# round-7 addition: length-bucketed batching efficiency
# ---------------------------------------------------------------------------

_LB_BUCKETS = 8


@query(
    "curation_length_bucket_padding",
    f"""
    WITH bounds AS (
      SELECT MIN(n_chars) AS lo,
             ((MAX(n_chars) - MIN(n_chars)) // {_LB_BUCKETS}) + 1 AS width
      FROM documents
    ),
    bucketed AS (
      SELECT LEAST((n_chars - bounds.lo) // bounds.width,
                   {_LB_BUCKETS - 1}) AS bucket,
             n_chars
      FROM documents, bounds
    )
    SELECT bucket,
           COUNT(*) AS n_docs,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars,
           SUM(n_chars) AS total_chars,
           ROUND(SUM(n_chars) / (1.0 * COUNT(*) * MAX(n_chars)), 6)
             AS pad_efficiency
    FROM bucketed GROUP BY bucket ORDER BY bucket
    """,
)
def curation_length_bucket_padding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching audit: split documents into
    {_LB_BUCKETS} equal-width length buckets and report each bucket's
    padding efficiency Σlen/(n·max_len) — the fraction of a padded batch
    that is real tokens when batches are drawn within a bucket. The
    design input for bucketed batching (dynamic batching's static
    sibling): compare against the unbucketed efficiency to justify the
    extra shuffle. [[pack_sequences_token_budget]] PACKS around padding;
    this MEASURES how much bucketing alone recovers.

    Exactness: bucket id, counts, min/max/sum are exact integer
    arithmetic off a 1-row broadcast bounds frame; one division per
    bucket row, rounded 6. Plan: one scan + one {_LB_BUCKETS}-row
    groupBy — n_chars is a stored column, so the scan prunes to two
    columns.
    """
    docs = read_table(spark, sf_dir, "documents").select("n_chars")
    bounds = docs.agg(
        F.min("n_chars").alias("lo"),
        (
            ((F.max("n_chars") - F.min("n_chars")) / _LB_BUCKETS).cast("long") + 1
        ).alias("width"),
    )
    bucketed = docs.crossJoin(F.broadcast(bounds)).select(
        F.least(
            ((F.col("n_chars") - F.col("lo")) / F.col("width")).cast("long"),
            F.lit(_LB_BUCKETS - 1),
        ).alias("bucket"),
        "n_chars",
    )
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.sum("n_chars").alias("total_chars"),
            F.round(
                F.sum("n_chars") / (1.0 * F.count(F.lit(1)) * F.max("n_chars")), 6
            ).alias("pad_efficiency"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# round-8: quality-filter overlap contingency
# ---------------------------------------------------------------------------


@query(
    "curation_filter_overlap",
    """
    WITH feats AS (
      SELECT doc_id,
             (length(trim(text)) >= 200) AS g_len,
             (len(string_split(trim(text), ' ')) >= 40) AS g_words,
             (CAST((SELECT MAX(cnt) FROM (
                 SELECT COUNT(*) AS cnt
                 FROM UNNEST(string_split(trim(text), ' ')) AS u(w)
                 GROUP BY u.w)) AS DOUBLE)
              / len(string_split(trim(text), ' ')) <= 0.10) AS g_rep
      FROM documents
    ),
    cells AS (
      SELECT g_len, g_words, g_rep, COUNT(*) AS n_docs
      FROM feats GROUP BY g_len, g_words, g_rep
    ),
    tot AS (SELECT COUNT(*) AS nd FROM feats)
    SELECT g_len, g_words, g_rep, n_docs,
           ROUND(CAST(n_docs AS DOUBLE) / nd, 4) AS share
    FROM cells, tot
    ORDER BY g_len DESC, g_words DESC, g_rep DESC
    """,
)
def curation_filter_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate OVERLAP contingency: the 2³ cell counts of three
    standard curation gates — length ≥ 200 chars, ≥ 40 words, top-word
    share ≤ 10% (repetition) — over the corpus. The design table for a
    filter CASCADE: if two gates' fail sets coincide, the second buys
    nothing and should be dropped; if they're disjoint, ordering by
    cheapest-first ([[pipeline_dedup_cascade]]'s principle) sets the
    cost. [[text_quality_score]] combines these gates into one score;
    this measures their joint geometry instead.

    Exactness: each gate is a deterministic integer/boolean expression
    per doc (max token frequency via a grouped-count max inside a
    higher-order expression — no second scan); cells are exact integer
    counts. Plan: one projection + one 8-cell groupBy; the corpus total
    rides a 1-row broadcast.
    """
    docs = read_table(spark, sf_dir, "documents")
    w = F.split(F.trim(F.col("text")), " ")
    # max token frequency without an explode: sort tokens, fold runs
    maxrun = F.aggregate(
        F.array_sort(w),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    feats = docs.select(
        (F.length(F.trim("text")) >= 200).alias("g_len"),
        (F.size(w) >= 40).alias("g_words"),
        (maxrun.cast("double") / F.size(w) <= 0.10).alias("g_rep"),
    )
    tot = feats.agg(F.count(F.lit(1)).alias("nd"))
    cells = feats.groupBy("g_len", "g_words", "g_rep").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "g_len",
            "g_words",
            "g_rep",
            "n_docs",
            F.round(F.col("n_docs").cast("double") / F.col("nd"), 4).alias("share"),
        )
        .orderBy(F.desc("g_len"), F.desc("g_words"), F.desc("g_rep"))
    )
