"""Deterministic sampling & splitting for training-data pipelines.

A 100 TB corpus pipeline needs *reproducible* sampling: train/val/test
membership and per-source sampling rates must not change when the job
reruns, the cluster resizes, or partitioning shifts. Seeded
``df.sample()``/``sampleBy()`` does not give that guarantee across
repartitionings (the Bernoulli draw is keyed to partition layout), so
this module derives randomness from a **content hash of the row's stable
key** (md5 of ``doc_id``): membership is a pure function of the row, at
any scale, on any cluster — and is expressible in ANSI SQL, so both
queries here are fully DuckDB-oracle-checked (unlike seeded sampling,
which would be a rows-only check).

The hash-uniform trick: lowercase hex md5 digits compare
lexicographically in digit order (``'0'<'1'<…<'9'<'a'<…<'f'``), so the
first k hex chars are a uniform draw over 16^k levels that both engines
order identically — no integer conversion needed.

These generalize the reference's quality-gating role (SURVEY.md §2.2 P9:
expectations decide which rows continue downstream) to the corpus-
curation setting of §2.9.

Scale notes: both operators are single-pass scan + filter/project with a
tiny-cardinality groupBy — partial aggregation collapses everything
map-side; no joins, no windows, no extra shuffle beyond the final
#groups-row exchange.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from databricks_end_to_end_lakeflow_project_spark.operators.scalerank import with_ntile
from databricks_end_to_end_lakeflow_project_spark.registry import query
from databricks_end_to_end_lakeflow_project_spark.session import persist_once
from databricks_end_to_end_lakeflow_project_spark.sources.readers import read_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


def hash_hex(key: Column, nchars: int) -> Column:
    """First ``nchars`` lowercase-hex chars of md5 of the key's string
    rendering — a deterministic uniform draw over 16^nchars levels,
    comparable as a string. Hashing the *string* form (not raw bytes)
    keeps the draw identical across engines and integer widths."""
    return F.substring(F.md5(key.cast("string").cast("binary")), 1, nchars)


def split_assign(key: Column, train_16ths: int = 12, val_16ths: int = 2) -> Column:
    """Deterministic train/val/test label from one hex digit of md5(key).

    Default 12/2/2 sixteenths = 75% / 12.5% / 12.5%. Membership is a pure
    function of the key — stable across reruns, partitionings, clusters.
    """
    d = hash_hex(key, 1)
    train_max = format(train_16ths - 1, "x")
    val_max = format(train_16ths + val_16ths - 1, "x")
    return (
        F.when(d <= train_max, F.lit("train"))
        .when(d <= val_max, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def stratified_hash_sample(df: DataFrame, key: Column, rate_256ths: Column) -> DataFrame:
    """Keep each row iff its 2-hex-char hash draw falls below the row's
    per-stratum threshold (in 256ths). Exact-rate deterministic sampling."""
    threshold = F.lpad(F.lower(F.hex(rate_256ths)), 2, "0")
    return df.filter(hash_hex(key, 2) < threshold)


@query(
    "sample_split_train_val_test",
    """
    SELECT split, COUNT(*) AS n_docs, SUM(n_chars) AS total_chars
    FROM (
      SELECT CASE
               WHEN SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
               WHEN SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'd' THEN 'val'
               ELSE 'test'
             END AS split,
             n_chars
      FROM documents
    ) t
    GROUP BY split
    ORDER BY split
    """,
)
def sample_split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 75/12.5/12.5 train/val/test split of the corpus by
    content-hash of doc_id, with per-split document and character counts.
    The split label is a pure row function — no shuffle until the 3-group
    aggregate."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(split_assign(F.col("doc_id")).alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("split")
    )


@query(
    "sample_stratified_by_lang",
    """
    SELECT lang, COUNT(*) AS n_sampled
    FROM documents
    WHERE SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
          CASE lang WHEN 'en' THEN '80' WHEN 'de' THEN '40'
                    WHEN 'fr' THEN '20' ELSE '10' END
    GROUP BY lang
    ORDER BY lang
    """,
)
def sample_stratified_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified corpus downsampling with per-language rates (en 50%,
    de 25%, fr 12.5%, other languages 6.25%) — the language-rebalancing
    step of an LLM data mixture, as a deterministic hash filter instead
    of seeded Bernoulli sampling so the mixture is reproducible at any
    scale and rerun."""
    docs = _t(spark, sf_dir, "documents")
    rate = (
        F.when(F.col("lang") == "en", 128)
        .when(F.col("lang") == "de", 64)
        .when(F.col("lang") == "fr", 32)
        .otherwise(16)
    )
    return (
        stratified_hash_sample(docs, F.col("doc_id"), rate)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
        .orderBy("lang")
    )


@query(
    "sample_weighted_reservoir",
    """
    WITH keyed AS (
      SELECT lang, doc_id, n_chars,
             ln((('0x' || SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
                 + 1)::DOUBLE / (268435457)::DOUBLE)
               / n_chars::DOUBLE AS es_key
      FROM documents
    )
    SELECT lang, doc_id, n_chars, ROUND(es_key, 10) AS es_key
    FROM (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY lang ORDER BY es_key DESC, doc_id
             ) AS rn
      FROM keyed
    ) t WHERE rn <= 5
    ORDER BY lang, es_key DESC, doc_id
    """,
)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, Efraimidis–Spirakis style:
    per language, keep the top-5 documents by the exponential-race key
    ``ln(u)/w`` (equivalently ``u^(1/w)``), weight = document length —
    the size-biased pick an LLM token-budget mixture uses.

    The uniform draw ``u`` is NOT a random number: it is derived from a
    content hash (7 hex chars of md5(doc_id) → (h+1)/(16^7+1)), so the
    sample is a pure function of the data — identical on any cluster
    size, rerun, or engine (the oracle reproduces the identical
    arithmetic). Distributed shape: the key is a row-local expression;
    per-stratum top-k is one window on the lang-hashed layout — at
    100 TB this is a single shuffle carrying only the strata, and it IS
    the distributed reservoir: no sequential state, unlike the classic
    single-pass algorithm.
    """
    docs = _t(spark, sf_dir, "documents")
    h = hash_hex(F.col("doc_id"), 7)
    u = (F.conv(h, 16, 10).cast("double") + 1) / F.lit(float(16**7) + 1)
    keyed = docs.select(
        "lang",
        "doc_id",
        "n_chars",
        (F.log(u) / F.col("n_chars").cast("double")).alias("es_key"),
    )
    w = Window.partitionBy("lang").orderBy(F.col("es_key").desc(), "doc_id")
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .drop("rn")
        .select("lang", "doc_id", "n_chars", F.round("es_key", 10).alias("es_key"))
        .orderBy("lang", F.col("es_key").desc(), "doc_id")
    )


_LEAKAGE_SAFE_ORACLE = """
    WITH RECURSIVE toks AS (
      SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)])
               AS shingles
      FROM toks WHERE len(w) >= 3
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
      SELECT doc_id AS node, doc_id AS lbl FROM documents
      UNION
      SELECT e.b AS node, r.lbl
      FROM reach r JOIN edges e ON e.a = r.node
      WHERE r.lbl < e.b
    ), comp AS (
      SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node
    )
    SELECT node AS doc_id, cluster_id,
           CASE
             WHEN SUBSTRING(md5(CAST(cluster_id AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
             WHEN SUBSTRING(md5(CAST(cluster_id AS VARCHAR)), 1, 1) <= 'd' THEN 'val'
             ELSE 'test'
           END AS split
    FROM comp
"""


@query("sample_split_leakage_safe", _LEAKAGE_SAFE_ORACLE)
def sample_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware train/val/test split: hash the near-dup CLUSTER id,
    not the document id, so every member of a duplicate cluster lands in
    the SAME split — the guard against train→eval leakage that a plain
    per-document hash split cannot give (a near-copy of a test document
    in train is contamination). Near-dup graph = verified MinHash-LSH
    pairs; components give the cluster id (smallest member); the split
    label is then the same deterministic 12/2/2-sixteenths hash used by
    `sample_split_train_val_test`, applied to the cluster key.

    Scale notes: identical cost profile to `dedup_cluster_assign` (LSH
    banding + component iterations); the split assignment itself is a
    narrow map over the component output. Singleton docs (their own
    cluster) split at the standard rates, so corpus-level proportions
    are preserved up to duplicate mass."""
    from databricks_end_to_end_lakeflow_project_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    comp = connected_components(docs.select(F.col("doc_id").alias("node")), pairs)
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        split_assign(F.col("component")).alias("split"),
    )


@query(
    "sample_split_temporal",
    """
    WITH deciled AS (
      SELECT ts, NTILE(10) OVER (ORDER BY ts, event_id) AS d
      FROM events
    )
    SELECT CASE WHEN d <= 8 THEN 'train' WHEN d = 9 THEN 'val' ELSE 'test' END
             AS split,
           COUNT(*) AS n_events,
           MIN(ts) AS from_ts,
           MAX(ts) AS to_ts
    FROM deciled GROUP BY 1 ORDER BY from_ts
    """,
)
def sample_split_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal 80/10/10 split: train strictly precedes val strictly
    precedes test in EVENT TIME — the other leakage guard next to the
    cluster-keyed hash split ([[sample_split_leakage_safe]]): models
    evaluated on the future, never on shuffled contemporaries of their
    training data. Deciles via one NTILE over (ts, event_id) so the
    boundary is a deterministic data quantile, not a hand-picked date.

    Scale path (operators/scalerank.py): approx-percentile range-bin
    boundaries in one partial-aggregatable pass, a bounded bin-histogram
    collect, and a PARTITIONED within-bin row_number reproduce the exact
    global rank — same deciles as the oracle's NTILE, no single-partition
    sort anywhere in the executed plan."""
    ev = _t(spark, sf_dir, "events").select("ts", "event_id")
    # bare 2-column scan: rescanning projected parquet beats caching it
    deciled = with_ntile(
        ev,
        10,
        "ts",
        ["event_id"],
        "d",
        bin_value=F.unix_micros(F.col("ts")),
        persist_input=False,
    ).select("ts", "d")
    split = (
        F.when(F.col("d") <= 8, "train").when(F.col("d") == 9, "val").otherwise("test")
    )
    return (
        deciled.groupBy(split.alias("split"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("from_ts"),
            F.max("ts").alias("to_ts"),
        )
        .orderBy("from_ts")
    )


@query(
    "sample_balanced_by_lang",
    """
    WITH ranked AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    ), floor_n AS (
      SELECT MIN(cnt) AS m FROM (SELECT COUNT(*) AS cnt FROM documents GROUP BY lang)
    )
    SELECT doc_id, lang FROM ranked, floor_n WHERE rn <= m
    """,
)
def sample_balanced_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact class balancing: every language downsampled WITHOUT
    replacement to the minority language's count, membership decided by
    content-hash order (deterministic across reruns, partitionings, and
    engines — no seeded RNG). The class-rebalance step before training
    a classifier on skewed strata; contrast with
    `sample_stratified_by_lang`'s fixed per-stratum RATES.

    Plan: one per-lang window over hash order + a broadcast 1-row floor;
    the hash sort shuffles each stratum once — at 100 TB use the
    rate-based variant unless exact counts are contractual."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(hash_hex(F.col("doc_id"), 32), "doc_id")
    ranked = docs.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
    floor_n = docs.groupBy("lang").count().agg(F.min("count").alias("m"))
    return (
        ranked.crossJoin(F.broadcast(floor_n))
        .filter(F.col("rn") <= F.col("m"))
        .select("doc_id", "lang")
    )


@query(
    "sample_dsir_importance",
    """
    WITH toks AS (
      SELECT doc_id, source, unnest(string_split(trim(text), ' ')) AS tok
      FROM documents
    ), vocab AS (
      SELECT tok,
             SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS n_t,
             SUM(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS n_r
      FROM toks GROUP BY tok
    ), consts AS (
      SELECT SUM(n_t) AS big_nt, SUM(n_r) AS big_nr, COUNT(*) AS v FROM vocab
    ), scored AS (
      -- per-token log-ratio quantized to a fixed-point long (1e-9) BEFORE
      -- summing: integer addition is order-independent, so the per-doc sum
      -- is identical across engines and partitionings (double sums are not)
      SELECT t.doc_id,
             COUNT(*) AS n_tokens,
             SUM(CAST(ROUND((ln((vocab.n_t + 1.0) / (consts.big_nt + consts.v))
                 - ln((vocab.n_r + 1.0) / (consts.big_nr + consts.v))) * 1e9)
               AS BIGINT)) AS lw_q
      FROM toks t JOIN vocab USING (tok) CROSS JOIN consts
      WHERE t.source <> 'src0'
      GROUP BY t.doc_id
    )
    SELECT doc_id, n_tokens, ROUND(lw_q / 1e9 / n_tokens, 4) AS avg_log_imp
    FROM scored
    ORDER BY avg_log_imp DESC, doc_id
    LIMIT 20
    """,
)
def sample_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, "Data Selection for Language
    Models via Importance Resampling"): score every RAW-pool document by
    its importance weight under a target-vs-raw n-gram generative model —
    log w(x) = Σ_tokens [ln p_target(tok) − ln p_raw(tok)] with add-one
    smoothing — and surface the top 20 raw documents by length-normalized
    weight (the ones importance resampling would draw first). `src0`
    documents stand in for the curated target corpus; the paper hashes
    n-grams into buckets, unigrams here keep the DuckDB oracle exact.

    Scale notes: the token explode partial-aggregates into a
    VOCABULARY-sized count table; both the per-token ratio join and the
    3-scalar totals are vocabulary/constant-sized frames that AQE
    broadcasts back onto the token stream (no hint — same policy as the
    NLL LM tables), so the plan is explode → one vocab aggregate → one
    broadcast-joined per-doc partial aggregate → TakeOrdered(20). No
    global sort, nothing driver-side beyond the 3 totals."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", F.explode(F.split(F.trim(F.col("text")), " ")).alias("tok")
    )
    is_t = (F.col("source") == "src0").cast("long")
    vocab = toks.groupBy("tok").agg(
        F.sum(is_t).alias("n_t"), F.sum(1 - is_t).alias("n_r")
    )
    c = vocab.agg(
        F.sum("n_t").alias("big_nt"), F.sum("n_r").alias("big_nr"),
        F.count(F.lit(1)).alias("v"),
    ).collect()[0]
    lr = F.log((F.col("n_t") + 1.0) / F.lit(float(c["big_nt"] + c["v"]))) - F.log(
        (F.col("n_r") + 1.0) / F.lit(float(c["big_nr"] + c["v"]))
    )
    # cross-engine exactness: quantize each VOCAB log-ratio to a fixed-point
    # long (1e-9) and sum integers — Spark's partial-aggregate addition order
    # is nondeterministic, so a double sum rounded at 4dp could flake near a
    # boundary across runs/partitionings (the scalerank integer-weight rule);
    # the per-vocab-row quantization itself is a deterministic scalar map
    ratios = vocab.select("tok", F.round(lr * 1e9).cast("long").alias("lr_q"))
    return (
        toks.filter(F.col("source") != "src0")
        .join(ratios, "tok")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.sum("lr_q").alias("lw_q"))
        .select(
            "doc_id",
            "n_tokens",
            F.round(F.col("lw_q") / 1e9 / F.col("n_tokens"), 4).alias("avg_log_imp"),
        )
        .orderBy(F.col("avg_log_imp").desc(), "doc_id")
        .limit(20)
    )


# -- deterministic epoch shuffle ---------------------------------------------

_EPOCH_SEED = 1
_EPOCH_SHARDS = 8
_HEX_ALPHABET = "0123456789abcdef"


def epoch_shuffle(df: DataFrame, key: Column, epoch: int, n_shards: int) -> DataFrame:
    """Deterministic global training-order permutation WITHOUT a global
    sort: ``hkey = md5(epoch ':' key)`` is an epoch-seeded uniform draw;
    ``shard`` is the first FOUR hex digits (a uniform draw over 65,536
    values — headroom for thousands of output shards at 100 TB) mod
    ``n_shards``; ``pos`` ranks (hkey, key) within the shard. Reading
    shards in (shard, pos) order yields a reproducible global order, and
    changing ``epoch`` reshuffles everything deterministically — the
    standard "shard, then shuffle within shard" used to write 100 TB
    training data: one hash-partition exchange plus shard-local sorts,
    never a range-partitioned total sort (no sampling skew, no
    stragglers on a hot range).

    Size ``n_shards`` to the corpus (shard ≈ one output file's worth);
    the per-shard window below is exactly the exchange + local sort the
    sharded write needs, so Catalyst plans the scale shape directly.
    """
    hkey = F.md5(F.concat(F.lit(f"{epoch}:"), key.cast("string")).cast("binary"))
    out = df.select(key.alias("k"), hkey.alias("hkey"))
    shard = (F.conv(F.substring("hkey", 1, 4), 16, 10).cast("long") % n_shards).cast(
        "int"
    ).alias("shard")
    w = Window.partitionBy("shard").orderBy("hkey", "k")
    return (
        out.select("k", "hkey", shard)
        .select("k", "shard", F.row_number().over(w).cast("long").alias("pos"))
    )


def _hex_prefix_sql(col: str, nchars: int) -> str:
    """DuckDB integer value of the first ``nchars`` hex digits of a hex
    string column — strpos digit lookups folded Horner-style (DuckDB has
    no base-16 string→int conversion)."""
    expr = "0"
    for i in range(1, nchars + 1):
        digit = f"(strpos('{_HEX_ALPHABET}', SUBSTRING({col}, {i}, 1)) - 1)"
        expr = f"(({expr}) * 16 + {digit})"
    return expr


def _epoch_shuffle_oracle() -> str:
    hex4 = _hex_prefix_sql("hkey", 4)
    return f"""
    WITH h AS (
      SELECT doc_id,
             md5('{_EPOCH_SEED}:' || CAST(doc_id AS VARCHAR)) AS hkey
      FROM documents
    )
    SELECT doc_id,
           CAST({hex4} % {_EPOCH_SHARDS} AS INT) AS shard,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY {hex4} % {_EPOCH_SHARDS}
             ORDER BY hkey, doc_id) AS BIGINT) AS pos
    FROM h
    """


@query("sample_epoch_shuffle", _epoch_shuffle_oracle())
def sample_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-seeded deterministic training-order shuffle of the corpus:
    every document gets a (shard, pos) coordinate that is a pure
    function of (epoch, doc_id) — stable across reruns, partitionings
    and clusters — and the plan is one hash exchange + per-shard local
    sorts, never a global range sort. The oracle replays the identical
    md5 draw, shard digit and per-shard rank in SQL. This registry
    entry pins 8 shards for the fixed oracle corpus; at scale callers
    pass `epoch_shuffle` an n_shards sized so one shard ≈ one output
    file (the 4-hex draw supports thousands), keeping each shard-local
    sort file-sized — see bench.py's shuffle_curve (8→128 shards)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        epoch_shuffle(docs, F.col("doc_id"), _EPOCH_SEED, _EPOCH_SHARDS)
        .withColumnRenamed("k", "doc_id")
        .select("doc_id", "shard", "pos")
    )


_MIXTURE_WEIGHT_SQL = """CASE domain WHEN 'en' THEN 0.30 WHEN 'de' THEN 0.25
             WHEN 'fr' THEN 0.05 ELSE 0.40 END"""


@query(
    "sample_token_budget_mixture",
    f"""
    WITH dom AS (
      SELECT doc_id, n_chars,
             CASE WHEN lang IN ('en','de','fr') THEN lang ELSE 'other' END
               AS domain
      FROM documents
    ), stats AS (
      SELECT domain, COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS avail_tokens
      FROM dom GROUP BY domain
    ), tot AS (
      SELECT CAST(SUM(avail_tokens) AS DOUBLE) AS total FROM stats
    ), plan0 AS (
      SELECT s.*, {_MIXTURE_WEIGHT_SQL} * t.total AS target_d,
             {_MIXTURE_WEIGHT_SQL} * t.total
               / CAST(s.avail_tokens AS DOUBLE) AS epochs
      FROM stats s CROSS JOIN tot t
    ), plan AS (
      SELECT domain, n_docs, avail_tokens,
             CAST(FLOOR(target_d) AS BIGINT) AS target_tokens,
             CAST(FLOOR(epochs) AS INT) AS n_full_epochs,
             CAST(FLOOR((epochs - FLOOR(epochs)) * 16777216.0) AS BIGINT)
               AS frac_threshold
      FROM plan0
    ), fracs AS (
      SELECT d.domain, COUNT(*) AS n_frac,
             CAST(SUM(d.n_chars) AS BIGINT) AS frac_tokens
      FROM dom d JOIN plan p USING (domain)
      WHERE ('0x' || SUBSTRING(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 6))
              ::BIGINT < p.frac_threshold
      GROUP BY d.domain
    )
    SELECT p.domain, p.n_docs, p.avail_tokens, p.target_tokens,
           p.n_full_epochs, p.frac_threshold,
           CAST(p.n_docs * p.n_full_epochs + COALESCE(f.n_frac, 0) AS BIGINT)
             AS n_docs_emitted,
           CAST(p.avail_tokens * p.n_full_epochs + COALESCE(f.frac_tokens, 0)
                AS BIGINT) AS emitted_tokens
    FROM plan p LEFT JOIN fracs f USING (domain)
    ORDER BY p.domain
    """,
)
def sample_token_budget_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture solver + emitter — the "how many epochs of
    each domain" step of LLM pre-training data curation (the mixture
    table in every LLaMA/Pile-style data card, repeat factors per
    Muennighoff et al.'s data-constrained scaling): given target domain
    weights and a total token budget (here: one corpus-size worth),
    each domain needs ``target = w_d x budget`` tokens out of
    ``avail_d`` on hand, i.e. ``epochs_d = target/avail_d`` passes —
    ``floor(epochs)`` FULL copies of the domain plus a fractional
    remainder sampled by deterministic content hash.

    The emitted counts come from the REAL emitted frame (full copies
    via ``explode(array_repeat(...))`` + the hash-filtered fractional
    pass), not from the arithmetic — the query proves the emission plan
    and the solver agree. Everything reported is an integer (thresholds
    as raw 16^6-ths), so the oracle match is exact: both engines do the
    identical double division/floor on identical BIGINT sums.

    Distributed shape: one map-side-partial groupBy over #domains keys,
    a 1-row total broadcast-joined back (never an unpartitioned
    window), the 4-row plan broadcast into the corpus scan, and one
    final #domains-key count — no corpus-scale shuffle anywhere; the
    full-epoch fan-out is row-local (array_repeat/explode in-stage), so
    at 100 TB the job is ~(1 + mean_epochs) scans' worth of I/O and
    nothing else."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    dom = docs.withColumn(
        "domain",
        F.when(F.col("lang").isin("en", "de", "fr"), F.col("lang")).otherwise(
            F.lit("other")
        ),
    )
    stats = dom.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("avail_tokens"),
    )
    total = stats.agg(F.sum("avail_tokens").cast("double").alias("total"))
    w = (
        F.when(F.col("domain") == "en", 0.30)
        .when(F.col("domain") == "de", 0.25)
        .when(F.col("domain") == "fr", 0.05)
        .otherwise(0.40)
    )
    target_d = w * F.col("total")
    epochs = target_d / F.col("avail_tokens").cast("double")
    plan = stats.crossJoin(F.broadcast(total)).select(
        "domain",
        "n_docs",
        "avail_tokens",
        F.floor(target_d).cast("long").alias("target_tokens"),
        F.floor(epochs).cast("int").alias("n_full_epochs"),
        F.floor((epochs - F.floor(epochs)) * F.lit(16777216.0))
        .cast("long")
        .alias("frac_threshold"),
    )
    joined = dom.join(F.broadcast(plan), "domain")
    full_copies = joined.select(
        "domain",
        "n_chars",
        F.explode(F.array_repeat(F.lit(1), F.col("n_full_epochs"))).alias("_e"),
    ).drop("_e")
    draw = F.conv(
        hash_hex(F.concat(F.lit("mix:"), F.col("doc_id").cast("string")), 6), 16, 10
    ).cast("long")
    fractional = joined.filter(draw < F.col("frac_threshold")).select(
        "domain", "n_chars"
    )
    emitted = full_copies.unionByName(fractional)
    counts = emitted.groupBy("domain").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_emitted"),
        F.sum("n_chars").cast("long").alias("emitted_tokens"),
    )
    return (
        plan.join(counts, "domain", "left")
        .select(
            "domain",
            "n_docs",
            "avail_tokens",
            "target_tokens",
            "n_full_epochs",
            "frac_threshold",
            F.coalesce("n_docs_emitted", F.lit(0)).cast("long").alias(
                "n_docs_emitted"
            ),
            F.coalesce("emitted_tokens", F.lit(0)).cast("long").alias(
                "emitted_tokens"
            ),
        )
        .orderBy("domain")
    )


_CURRICULUM_EPOCHS = 3
_CURRICULUM_TILES = 4


def _curriculum_oracle() -> str:
    hex4 = _hex_prefix_sql("hkey", 4)
    epochs = []
    for e in range(1, _CURRICULUM_EPOCHS + 1):
        epochs.append(f"""
      SELECT {e} AS epoch,
             CAST({hex4} % {_EPOCH_SHARDS} AS INT) AS shard,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY {hex4} % {_EPOCH_SHARDS}
               ORDER BY hkey, doc_id) AS BIGINT) AS pos,
             doc_id, quartile
      FROM (
        SELECT doc_id, quartile,
               md5('{e}:' || CAST(doc_id AS VARCHAR)) AS hkey
        FROM tiled WHERE quartile <= {e + 1}
      )""")
    body = "\n      UNION ALL".join(epochs)
    return f"""
    WITH tiled AS (
      SELECT doc_id,
             CAST(NTILE({_CURRICULUM_TILES}) OVER (ORDER BY n_chars, doc_id)
                  AS INT) AS quartile
      FROM documents
    )
    {body}
    ORDER BY epoch, shard, pos
    """


@query("sample_curriculum_order", _curriculum_oracle())
def sample_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum training order: documents are ranked into length
    quartiles (short = easy first, the classic length-based curriculum)
    and each epoch trains on a cumulatively growing pool — epoch 1 sees
    quartiles 1-2, epoch 2 adds quartile 3, epoch 3 the full corpus —
    with a fresh epoch-seeded deterministic shuffle inside each pool
    (same draw as :func:`epoch_shuffle`: ``md5(epoch:doc_id)``, 4-hex
    shard digit, per-shard rank). Reading (epoch, shard, pos) order IS
    the training schedule, reproducible on any cluster.

    Distributed shape: the quartile comes from `with_ntile` (exact
    distributed NTILE, no global sort; the tiled frame is persisted once
    — it feeds all three epoch pools); each epoch is one hash exchange +
    shard-local sorts, never a range partition. At 100 TB this is
    exactly the sharded-write plan per epoch, quartile filters pushed to
    the persisted frame."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    tiled = persist_once(
        with_ntile(
            docs,
            _CURRICULUM_TILES,
            value="n_chars",
            tiebreaks=["doc_id"],
            out="quartile",
            persist_input=False,
        ).select("doc_id", F.col("quartile").cast("int").alias("quartile"))
    )
    parts = []
    for e in range(1, _CURRICULUM_EPOCHS + 1):
        pool = tiled.filter(F.col("quartile") <= e + 1)
        hkey = F.md5(
            F.concat(F.lit(f"{e}:"), F.col("doc_id").cast("string")).cast("binary")
        )
        shard = (
            (F.conv(F.substring("hkey", 1, 4), 16, 10).cast("long") % _EPOCH_SHARDS)
            .cast("int")
            .alias("shard")
        )
        w = Window.partitionBy("shard").orderBy("hkey", "doc_id")
        parts.append(
            pool.select("doc_id", "quartile", hkey.alias("hkey"))
            .select("doc_id", "quartile", "hkey", shard)
            .select(
                F.lit(e).alias("epoch"),
                "shard",
                F.row_number().over(w).cast("long").alias("pos"),
                "doc_id",
                "quartile",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("epoch", "shard", "pos")


@query(
    "sample_negative_table_skipgram",
    """
    WITH cnt AS (
      SELECT tok, COUNT(*) AS c
      FROM (SELECT unnest(string_split(trim(text), ' ')) AS tok FROM documents)
      GROUP BY tok
    ), wq AS (
      SELECT tok, c,
             CAST(ROUND(POW(CAST(c AS DOUBLE), 0.75) * 1000000000) AS BIGINT)
               AS w_q
      FROM cnt
    ), tot AS (SELECT SUM(w_q) AS total_w FROM wq)
    SELECT w.tok, CAST(w.c AS BIGINT) AS cnt, w.w_q,
           CAST(FLOOR(w.w_q * 1000000 / t.total_w) AS BIGINT) AS sample_ppm
    FROM wq w CROSS JOIN tot t
    ORDER BY w.w_q DESC, w.tok LIMIT 20
    """,
)
def sample_negative_table_skipgram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec-style negative-sampling table: each vocabulary token's
    sampling weight is count^0.75 (the unigram-smoothing exponent that
    keeps frequent words from dominating negatives while still favoring
    them), normalized to ppm — the lookup table a skip-gram or
    contrastive trainer draws negatives from. Top-20 heaviest shown;
    the full table is the same frame un-limited.

    Exactness: the single double operation (count^0.75 on an exact
    BIGINT) is quantized to a fixed-point long BEFORE the normalization
    sum, so the total and every ppm share are order-independent integer
    arithmetic (the DSIR rule).

    Shape: one vocabulary-scale partial-aggregatable groupBy, a 1-row
    total broadcast, TakeOrdered top-20 — one scan."""
    toks = (
        _t(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.trim(F.col("text")), " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wq = toks.select(
        "tok",
        "c",
        F.round(F.pow(F.col("c").cast("double"), 0.75) * 1000000000)
        .cast("long")
        .alias("w_q"),
    )
    tot = wq.agg(F.sum("w_q").alias("total_w"))
    return (
        wq.crossJoin(F.broadcast(tot))
        .select(
            "tok",
            F.col("c").cast("long").alias("cnt"),
            "w_q",
            F.floor(F.col("w_q") * 1000000 / F.col("total_w"))
            .cast("long")
            .alias("sample_ppm"),
        )
        .orderBy(F.col("w_q").desc(), "tok")
        .limit(20)
    )


_KC_ROUNDS = 7  # selections after the seed -> 8 centers total


def _kcenter_oracle(rounds: int = _KC_ROUNDS) -> str:
    """Unrolled greedy k-center: one (centers, mind, pick) CTE chain per
    round, all in the integer fixed-point distance space (ties → lowest
    vec_id), so the selection is engine-exact."""
    parts = [
        """
    vals AS (
      SELECT vec_id, u.i AS dim,
             CAST(ROUND(CAST(embedding[u.i] AS DOUBLE) * 1000000) AS BIGINT)
               AS x_q
      FROM embeddings, LATERAL unnest(range(1, 65)) u(i)
    ),
    c0 AS (SELECT 0 AS sel_round, CAST(0 AS BIGINT) AS vec_id,
                  CAST(0 AS BIGINT) AS mind_q)
    """
    ]
    for r in range(1, rounds + 1):
        centers_in = " UNION ALL ".join(f"SELECT vec_id FROM c{i}" for i in range(r))
        parts.append(
            f"""
    d{r} AS (
      SELECT dd.vec_id, MIN(dd.d2) AS mind_q
      FROM (
        SELECT v.vec_id, c.vec_id AS cid,
               SUM((v.x_q - c.x_q) * (v.x_q - c.x_q)) AS d2
        FROM vals v
        JOIN vals c ON v.dim = c.dim
        WHERE c.vec_id IN ({centers_in})
        GROUP BY v.vec_id, c.vec_id
      ) dd
      GROUP BY dd.vec_id
    ),
    c{r} AS (
      SELECT {r} AS sel_round, vec_id, mind_q
      FROM d{r} ORDER BY mind_q DESC, vec_id LIMIT 1
    )"""
        )
    sel = " UNION ALL ".join(f"SELECT * FROM c{i}" for i in range(rounds + 1))
    return (
        "WITH "
        + ",".join(parts)
        + f"\n    SELECT sel_round, vec_id, mind_q FROM ({sel}) ORDER BY sel_round"
    )


@query("sample_kcenter_coreset", _kcenter_oracle())
def sample_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection (farthest-point traversal) over
    the embedding corpus: seed with vec 0, then 7 rounds of 'pick the
    point farthest from the selected set' — the classic 2-approximation
    diversity sampler used for coreset construction and active-learning
    batch selection. Reports each selection with its distance at pick
    time (the monotonically nonincreasing coverage-radius curve).

    Exactness: the same fixed-point protocol as `sim_kmeans_lloyd` —
    distances are integer sums of squares over 1e-6-quantized values,
    argmax ties break to the lowest vec_id; both engines select the
    identical sequence.

    Scale design: each round is ONE distributed pass — per-dim partial
    aggregate of d² against the (round·dim)-row broadcast center set,
    then min per vector and a global top-1 (TakeOrdered, no full sort).
    The driver holds only the k selected ids (a scalar cursor per round,
    the sanctioned exception to no-collect); k rounds = k passes, the
    textbook trade of farthest-point traversal. At 100 TB one would
    subsample candidates per round (streaming k-center) with the same
    per-round plan.
    """
    from databricks_end_to_end_lakeflow_project_spark.operators.similarity import (
        fixed_point_dims,
    )

    vals = fixed_point_dims(read_table(spark, sf_dir, "embeddings"))
    selected: list[tuple[int, int, int]] = [(0, 0, 0)]  # (round, vec_id, mind)
    for r in range(1, _KC_ROUNDS + 1):
        ids = [v for _, v, _ in selected]
        centers = vals.filter(F.col("vec_id").isin(ids)).select(
            F.col("vec_id").alias("cid"), "dim", F.col("x_q").alias("c_q")
        )
        diff = F.col("x_q") - F.col("c_q")
        mind = (
            vals.join(F.broadcast(centers), "dim")
            .groupBy("vec_id", "cid")
            .agg(F.sum(diff * diff).alias("d2"))
            .groupBy("vec_id")
            .agg(F.min("d2").alias("mind_q"))
        )
        pick = (
            mind.orderBy(F.desc("mind_q"), "vec_id").limit(1).collect()[0]
        )
        selected.append((r, pick["vec_id"], pick["mind_q"]))
    spark_sel = spark.createDataFrame(
        [(r, int(v), int(m)) for r, v, m in selected],
        "sel_round INT, vec_id BIGINT, mind_q BIGINT",
    )
    return spark_sel.orderBy("sel_round")


@query(
    "sample_stratified_kfold",
    """
    WITH assigned AS (
      SELECT c_mktsegment AS segment,
             CAST(c_custkey % 5 AS BIGINT) AS fold
      FROM customer
    )
    SELECT segment, fold, COUNT(*) AS n_rows,
           ROUND(COUNT(*) * 5.0 / SUM(COUNT(*)) OVER (PARTITION BY segment), 4)
             AS balance_ratio
    FROM assigned GROUP BY segment, fold
    ORDER BY segment, fold
    """,
)
def sample_stratified_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold cross-validation assignment with a per-stratum
    balance audit: every customer hashes to a fold (stable across runs and
    engines — DuckDB's hash() differs from Spark's, so BOTH sides use the
    engine-neutral arithmetic below), and the output reports each
    (segment, fold) cell's size and its ratio to the ideal n/5 — the
    balance check an eval harness runs before trusting CV variance.

    Plan: row-local fold assignment + one grouped aggregate + a window
    over the |segments|·5-row result. Nothing scales past the group-by.
    """
    cust = read_table(spark, sf_dir, "customer")
    assigned = cust.select(
        F.col("c_mktsegment").alias("segment"),
        (F.col("c_custkey") % 5).cast("long").alias("fold"),
    )
    w = Window.partitionBy("segment")
    return (
        assigned.groupBy("segment", "fold")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            "segment",
            "fold",
            "n_rows",
            F.round(
                F.col("n_rows") * 5.0 / F.sum("n_rows").over(w), 4
            ).alias("balance_ratio"),
        )
        .orderBy("segment", "fold")
    )


@query(
    "sample_target_encode_kfold",
    """
    WITH base AS (
      SELECT c_mktsegment AS segment,
             CAST(c_custkey % 5 AS BIGINT) AS fold,
             CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END AS y
      FROM customer
    ),
    prior AS (SELECT SUM(y) * 1.0 / COUNT(*) AS p FROM base),
    cells AS (
      SELECT segment, fold, COUNT(*) AS n_cell, SUM(y) AS y_cell
      FROM base GROUP BY 1, 2
    ),
    seg AS (
      SELECT segment, SUM(n_cell) AS n_seg, SUM(y_cell) AS y_seg FROM cells
      GROUP BY 1
    )
    SELECT c.segment, c.fold, c.n_cell,
           s.n_seg - c.n_cell AS n_oof,
           ROUND(((s.y_seg - c.y_cell) + 10 * prior.p)
                 / ((s.n_seg - c.n_cell) + 10), 6) AS target_enc,
           ROUND(prior.p, 6) AS global_prior
    FROM cells c JOIN seg s ON c.segment = s.segment CROSS JOIN prior
    ORDER BY c.segment, c.fold
    """,
)
def sample_target_encode_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe k-fold target encoding — the feature-store companion
    to `sample_stratified_kfold`: each (category, fold) cell's encoding
    is the smoothed OUT-OF-FOLD positive rate of its category
    ((Σy_other_folds + m·prior) / (n_other_folds + m), m=10), so a row's
    own fold never contributes to the feature it trains on — the
    standard defence against target leakage in encoded categoricals.

    Exactness: encodings are ratios of integer sums plus one global
    prior, evaluated with the identical operand order on both engines —
    bit-equal before the 6dp round.

    Plan: one hash aggregate to (category, fold) grain, one roll-up to
    category grain, then pure arithmetic on |categories|·k rows; the
    encoded table broadcasts back onto the training scan at any scale —
    model moves, not data.
    """
    cust = read_table(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_mktsegment").alias("segment"),
        (F.col("c_custkey") % 5).cast("long").alias("fold"),
        F.when(F.col("c_acctbal") > 0, 1).otherwise(0).alias("y"),
    )
    prior = base.agg(
        (F.sum("y") * 1.0 / F.count(F.lit(1))).alias("p")
    )
    cells = base.groupBy("segment", "fold").agg(
        F.count(F.lit(1)).alias("n_cell"), F.sum("y").alias("y_cell")
    )
    seg = cells.groupBy("segment").agg(
        F.sum("n_cell").alias("n_seg"), F.sum("y_cell").alias("y_seg")
    )
    enc = ((F.col("y_seg") - F.col("y_cell")) + 10 * F.col("p")) / (
        (F.col("n_seg") - F.col("n_cell")) + 10
    )
    return (
        cells.join(seg, "segment")
        .crossJoin(F.broadcast(prior))
        .select(
            "segment",
            "fold",
            "n_cell",
            (F.col("n_seg") - F.col("n_cell")).alias("n_oof"),
            F.round(enc, 6).alias("target_enc"),
            F.round("p", 6).alias("global_prior"),
        )
        .orderBy("segment", "fold")
    )


# ---------------------------------------------------------------------------
# round-6 addition (session 2): waterfilling source caps
# ---------------------------------------------------------------------------

_WF_BUDGET_SHARE = 0.6  # keep 60% of the corpus


@query(
    "sample_waterfill_source_caps",
    f"""
    WITH src AS (
      SELECT source, COUNT(*) AS n FROM documents GROUP BY source
    ),
    tot AS (
      SELECT SUM(n) AS total, COUNT(*) AS s,
             CAST(FLOOR({_WF_BUDGET_SHARE} * SUM(n)) AS BIGINT) AS b
      FROM src
    ),
    ranked AS (
      SELECT source, n,
             ROW_NUMBER() OVER (ORDER BY n, source) AS i,
             SUM(n) OVER (ORDER BY n, source
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS pfx,
             LEAD(n) OVER (ORDER BY n, source) AS n_next
      FROM src
    ),
    cand AS (
      SELECT r.i,
             CAST(FLOOR((t.b - (r.pfx - r.n)) / (t.s - r.i + 1)) AS BIGINT)
               AS lvl,
             r.n, r.n_next
      FROM ranked r, tot t
    ),
    lvl AS (
      SELECT MIN(c.lvl) AS l
      FROM cand c LEFT JOIN ranked p ON p.i = c.i - 1
      WHERE c.lvl >= 0 AND c.lvl < c.n
        AND c.lvl >= COALESCE(p.n, 0)
    )
    SELECT r.source, r.n AS n_docs,
           LEAST(r.n, lvl.l) AS n_kept,
           lvl.l AS water_level
    FROM ranked r, lvl
    ORDER BY r.source
    """,
)
def sample_waterfill_source_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Waterfilling per-source caps — the proportional-fair allocator
    real pretraining mixtures use to stop the biggest crawl from eating
    the token budget: find the water level L such that
    Σ_s min(n_s, L) ≤ budget (= {_WF_BUDGET_SHARE:.0%} of the corpus)
    with every source below L untouched; only sources above L are
    downsampled, all to the SAME ceiling.

    The level has a closed form per saturation segment — after the i−1
    smallest sources are uncapped, L_i = ⌊(B − prefix_{{i-1}}) / (S−i+1)⌋
    — and the valid segment is the one where L lands between its
    neighbors' sizes. Both engines evaluate every candidate segment and
    take the unique feasible one (MIN over feasible candidates).

    Scale: one grouped scan → the source-stats frame (|sources| rows,
    model-sized); ranks/prefixes are windows over that tiny frame
    (Spark side routes them through the scalerank kernel so the plan
    stays single-partition-free even at million-source cardinality).
    """
    from databricks_end_to_end_lakeflow_project_spark.operators.scalerank import (
        RankSpec,
        with_global_cumsums,
        with_global_ranks,
    )

    src = (
        read_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ranked, s_count = with_global_ranks(
        src, [RankSpec(out="i", value="n", tiebreaks=["source"])]
    )
    with_pfx, totals = with_global_cumsums(
        ranked, "n", ["source"], {"pfx": F.col("n")}
    )
    total = totals["pfx"]
    budget = int(_WF_BUDGET_SHARE * total)
    # candidate level per segment: L_i = floor((B - prefix_{i-1}) / (S-i+1));
    # feasible iff all smaller sources fit under it (lvl >= n of the
    # previous rank) and this segment's own source exceeds it (lvl < n_i).
    cand = with_pfx.select(
        "source",
        "n",
        "i",
        F.floor(
            (F.lit(budget) - (F.col("pfx") - F.col("n")))
            / (F.lit(s_count) - F.col("i") + 1)
        ).cast("long").alias("lvl"),
        (F.col("pfx") - F.col("n")).alias("pfx_prev"),
    )
    prev_max = cand.select(
        F.col("i").alias("i_next"), F.col("n").alias("n_prev")
    )
    feasible = (
        cand.join(
            F.broadcast(prev_max),
            cand["i"] - 1 == prev_max["i_next"],
            "left",
        )
        .filter(
            (F.col("lvl") >= 0)
            & (F.col("lvl") < F.col("n"))
            & (F.col("lvl") >= F.coalesce(F.col("n_prev"), F.lit(0)))
        )
        .agg(F.min("lvl").alias("l"))
        .collect()[0]
    )
    level = int(feasible["l"]) if feasible["l"] is not None else int(
        src.agg(F.max("n")).collect()[0][0]
    )
    return ranked.select(
        "source",
        F.col("n").alias("n_docs"),
        F.least(F.col("n"), F.lit(level)).alias("n_kept"),
        F.lit(level).cast("long").alias("water_level"),
    ).orderBy("source")


_NEYMAN_BUDGET = 1000  # total sample size to allocate across strata


@query(
    "sample_neyman_allocation",
    f"""
    WITH strata AS (
      SELECT c_mktsegment AS stratum,
             COUNT(*)::BIGINT AS n_h,
             COUNT(*)::BIGINT * CAST(STDDEV_POP(o_totalprice) AS DOUBLE)
               AS weight
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment
    ),
    tot AS (SELECT SUM(weight) AS w FROM strata),
    frac AS (
      SELECT stratum, n_h, weight,
             {_NEYMAN_BUDGET} * weight / tot.w AS exact_alloc,
             CAST(FLOOR({_NEYMAN_BUDGET} * weight / tot.w) AS BIGINT)
               AS base_alloc,
             {_NEYMAN_BUDGET} * weight / tot.w
               - FLOOR({_NEYMAN_BUDGET} * weight / tot.w) AS rem
      FROM strata, tot
    ),
    short AS (
      SELECT {_NEYMAN_BUDGET} - SUM(base_alloc) AS extra FROM frac
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, stratum) AS rr
      FROM frac
    )
    SELECT stratum, n_h,
           ROUND(exact_alloc, 4) AS exact_alloc,
           base_alloc + CASE WHEN rr <= short.extra THEN 1 ELSE 0 END
             AS n_alloc
    FROM ranked, short
    ORDER BY stratum
    """,
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman (variance-optimal) stratified-sample allocation: with a
    fixed budget of {_NEYMAN_BUDGET} rows across market-segment strata,
    allocate n_h ∝ N_h·σ_h — big AND volatile strata get more samples,
    which minimizes the estimator variance of the stratified mean
    (proportional allocation ignores σ; see `sample_stratified_by_lang`
    for that baseline). Integerized by largest-remainder (Hamilton)
    rounding so the allocations sum EXACTLY to the budget.

    Exactness: N_h is integer; σ_h = STDDEV_POP over the stratum — the
    one reduction-order-sensitive float — feeds only a ratio rounded at
    4 and a FLOOR whose operand sits far from the integer boundary at
    this data (the remainder ranking is therefore stable; both engines
    agree, and the largest-remainder tie-break is the stratum name).
    Plan: one join + one grouped moment aggregate; everything after
    runs on the |strata|-row model frame (5 rows — the Hamilton window
    is bounded; at high-cardinality strata route it through scalerank).
    """
    od = read_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cu = read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    strata = (
        od.join(cu, od["o_custkey"] == cu["c_custkey"])
        .groupBy(F.col("c_mktsegment").alias("stratum"))
        .agg(
            F.count(F.lit(1)).alias("n_h"),
            (F.count(F.lit(1)) * F.stddev_pop("o_totalprice")).alias("weight"),
        )
    )
    rows = strata.collect()  # |strata| rows — the sanctioned model collect
    w_tot = sum(r["weight"] for r in rows)
    allocs = []
    for r in rows:
        exact = _NEYMAN_BUDGET * r["weight"] / w_tot
        allocs.append(
            {"stratum": r["stratum"], "n_h": r["n_h"], "exact": exact,
             "base": int(exact // 1), "rem": exact - int(exact // 1)}
        )
    extra = _NEYMAN_BUDGET - sum(a["base"] for a in allocs)
    for i, a in enumerate(
        sorted(allocs, key=lambda a: (-a["rem"], a["stratum"]))
    ):
        a["bump"] = 1 if i < extra else 0
    out = spark.createDataFrame(
        [
            (a["stratum"], a["n_h"], round(a["exact"], 4), a["base"] + a["bump"])
            for a in allocs
        ],
        "stratum string, n_h long, exact_alloc double, n_alloc long",
    )
    return out.orderBy("stratum")


# ---------------------------------------------------------------------------
# round-7 addition: class-balanced loss weights
# ---------------------------------------------------------------------------

_ENS_BETA = 0.999  # effective-number-of-samples smoothing (Cui et al. 2019)


@query(
    "sample_class_weights_effective",
    f"""
    WITH cls AS (
      SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
    ),
    w AS (
      SELECT lang, n,
             1.0 / n AS w_inv,
             (1 - {_ENS_BETA}) / (1 - POWER({_ENS_BETA}, n)) AS w_ens,
             COUNT(*) OVER () AS k
      FROM cls
    ),
    tot AS (
      SELECT
        list_reduce(list_prepend(0.0::DOUBLE,
          (SELECT LIST(w_inv ORDER BY lang) FROM w)), (a, b) -> a + b) AS si,
        list_reduce(list_prepend(0.0::DOUBLE,
          (SELECT LIST(w_ens ORDER BY lang) FROM w)), (a, b) -> a + b) AS se
    )
    SELECT lang, n,
           ROUND(w_inv * k / si, 6) AS weight_inverse_freq,
           ROUND(w_ens * k / se, 6) AS weight_effective_num
    FROM w, tot ORDER BY lang
    """,
)
def sample_class_weights_effective(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced loss weights per language: plain inverse frequency
    and the effective-number-of-samples variant (Cui et al. 2019,
    w ∝ (1−β)/(1−βⁿ), β={_ENS_BETA}) — the re-weighting that stops a
    90%-English corpus from drowning the tail without the variance
    blow-up naive 1/n causes on tiny classes. Both weights are
    normalized to mean 1 over the K classes (the convention loss
    implementations expect).

    Exactness: class counts are exact integers; each weight is one
    POWER/division per class row; the two normalizers fold the ≤K
    per-class doubles in pinned lang order on both engines, rounded 6.
    Plan: one map-side-combinable groupBy; everything else is the
    K-row class frame.
    """
    cls = (
        read_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = cls.select(
        "lang",
        "n",
        (1.0 / F.col("n")).alias("w_inv"),
        ((1 - _ENS_BETA) / (1 - F.pow(F.lit(_ENS_BETA), F.col("n")))).alias("w_ens"),
    )

    def fold(col):
        return F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("lang"), col.alias("v")))),
                lambda s: s["v"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    tot = w.groupBy().agg(
        fold(F.col("w_inv")).alias("si"),
        fold(F.col("w_ens")).alias("se"),
        F.count(F.lit(1)).alias("k"),
    )
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n",
            F.round(F.col("w_inv") * F.col("k") / F.col("si"), 6).alias(
                "weight_inverse_freq"
            ),
            F.round(F.col("w_ens") * F.col("k") / F.col("se"), 6).alias(
                "weight_effective_num"
            ),
        )
        .orderBy("lang")
    )


@query(
    "sample_group_kfold",
    """
    WITH grouped AS (
      SELECT DISTINCT user_id,
             ('0x' || SUBSTRING(md5(CAST(user_id AS VARCHAR)), 1, 7))::BIGINT
               % 5 AS fold
      FROM events
    ),
    assigned AS (
      SELECT e.event_id, e.user_id, g.fold
      FROM events e JOIN grouped g ON e.user_id = g.user_id
    )
    SELECT fold,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(event_id) AS BIGINT) AS event_checksum
    FROM assigned GROUP BY fold ORDER BY fold
    """,
)
def sample_group_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-aware 5-fold assignment: every event of a user lands in the
    SAME fold (fold = content-hash of user_id mod 5), so cross-fold
    evaluation never leaks a user's behavior between train and test —
    the grouped counterpart of [[sample_stratified_kfold]] (row-level
    folds leak correlated rows; user-level splits are the
    [[sample_split_leakage_safe]] contract applied to CV).

    The per-fold user sets are disjoint BY CONSTRUCTION (fold is a
    function of user_id), and the checksums let the oracle verify the
    exact membership, not just sizes. Plan: fold is a row-local
    expression on the distinct user frame; one broadcast-back join and
    one groupBy — no shuffle beyond the natural user key.
    """
    ev = read_table(spark, sf_dir, "events").select("event_id", "user_id")
    grouped = ev.select("user_id").distinct().select(
        "user_id",
        (F.conv(hash_hex(F.col("user_id").cast("string"), 7), 16, 10).cast("long") % 5).alias(
            "fold"
        ),
    )
    assigned = ev.join(F.broadcast(grouped), "user_id")
    return (
        assigned.groupBy("fold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.sum("event_id").cast("long").alias("event_checksum"),
        )
        .orderBy("fold")
    )


# ---------------------------------------------------------------------------
# round-8: clipped self-normalized importance sampling + ESS diagnostics
# ---------------------------------------------------------------------------

_ISW_CLIP = 5.0  # weight clip (the variance/bias knob)


@query(
    "sample_importance_clipped",
    f"""
    WITH counts AS (
      SELECT lang, COUNT(*) AS n_l FROM documents GROUP BY lang
    ),
    tot AS (SELECT SUM(n_l) AS n, COUNT(*) AS k FROM counts),
    -- target = uniform over languages; proposal = the corpus mix;
    -- w(doc) = (1/k) / (n_l/n), clipped at {_ISW_CLIP}
    weighted AS (
      SELECT d.lang,
             CAST(ROUND(LEAST(CAST(n AS DOUBLE) / (k * n_l), {_ISW_CLIP})
                        * 1000000) AS BIGINT) AS w_q,
             d.n_chars
      FROM documents d JOIN counts USING (lang) CROSS JOIN tot
    ),
    agg AS (
      SELECT COUNT(*) AS n_docs,
             SUM(w_q) AS sw,
             SUM(CAST(w_q AS HUGEINT) * w_q) AS sw2,
             SUM(CAST(w_q AS HUGEINT) * n_chars) AS swx
      FROM weighted
    )
    SELECT n_docs,
           ROUND(CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE), 4)
             AS est_mean_chars_target,
           ROUND(CAST(sw AS DOUBLE) * sw
                 / (CAST(sw2 AS DOUBLE) * n_docs), 6) AS ess_fraction,
           ROUND(CAST(sw AS DOUBLE) / 1000000.0 / n_docs, 6) AS mean_weight
    FROM agg
    """,
)
def sample_importance_clipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clipped self-normalized importance sampling: reweight the corpus
    toward a UNIFORM-over-languages target (w = target/proposal density
    ratio, clipped at {_ISW_CLIP} — the standard variance/bias trade),
    estimating the target-population mean document length plus the
    effective-sample-size fraction ESS = (Σw)²/(n·Σw²) — the diagnostic
    that says how much of the corpus the reweighting actually uses.
    The eval-side companion of [[sample_temperature_mixture]] /
    [[sample_dsir_importance]] (those choose what to sample; this scores
    any reweighting WITHOUT resampling) and the same estimator family as
    [[stats_ipw_ate]].

    Exactness: weights are deterministic ratios of exact counts,
    quantized to 1e-6 longs BEFORE every sum; Σw² and Σw·x fold in
    decimal(38,0) ↔ HUGEINT (w_q² ~ 2.5e13/doc — wraps int64 by ~400M
    docs). Plan: one language groupBy, one broadcast join back, one
    aggregate row.
    """
    docs = read_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_l"))
    tot = counts.agg(F.sum("n_l").alias("n"), F.count(F.lit(1)).alias("k"))
    w_q = F.round(
        F.least(
            F.col("n").cast("double") / (F.col("k") * F.col("n_l")),
            F.lit(_ISW_CLIP),
        )
        * 1_000_000
    ).cast("long")
    weighted = (
        docs.join(F.broadcast(counts), "lang")
        .crossJoin(F.broadcast(tot))
        .select(w_q.alias("w_q"), "n_chars")
    )
    agg = weighted.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("w_q").alias("sw"),
        F.sum((F.col("w_q").cast("decimal(38,0)") * F.col("w_q")).cast("decimal(38,0)")).alias("sw2"),
        F.sum((F.col("w_q").cast("decimal(38,0)") * F.col("n_chars")).cast("decimal(38,0)")).alias("swx"),
    )
    return agg.select(
        "n_docs",
        F.round(
            F.col("swx").cast("double") / F.col("sw").cast("double"), 4
        ).alias("est_mean_chars_target"),
        F.round(
            F.col("sw").cast("double") * F.col("sw")
            / (F.col("sw2").cast("double") * F.col("n_docs")),
            6,
        ).alias("ess_fraction"),
        F.round(F.col("sw").cast("double") / 1_000_000.0 / F.col("n_docs"), 6).alias(
            "mean_weight"
        ),
    )
