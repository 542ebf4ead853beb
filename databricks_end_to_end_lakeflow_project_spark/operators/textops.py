"""Text-analysis operators for training-data pipelines: token statistics,
quality scoring, language ID, document fingerprinting.

North-star additions (SURVEY.md §2.9; no reference citation — the
reference has no text operators). All implementations are JVM-side array/
string expressions (split → higher-order functions), no Python UDFs: at
100 TB these run inside whole-stage codegen as a pure scan → project
pipeline with zero shuffles.

Tokenization contract (shared with every oracle): tokens = split of
trimmed text on single spaces. Real corpora would swap in a regex/BPE
tokenizer here; the operator shapes are identical.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from databricks_end_to_end_lakeflow_project_spark.functions.compat import asc_seq
from databricks_end_to_end_lakeflow_project_spark.operators.kernels import map_kernel
from databricks_end_to_end_lakeflow_project_spark.registry import query
from databricks_end_to_end_lakeflow_project_spark.session import persist_once
from databricks_end_to_end_lakeflow_project_spark.sources.readers import (
    read_table,
    table_row_count,
)

# tiny demonstration lexicons (a real deployment ships per-language tables)
LEXICONS = {
    "en": ["the", "a", "fast", "slow", "big", "small"],
    "fr": ["le", "la", "les", "et", "vite"],
    "es": ["el", "los", "rapido", "y"],
    "de": ["der", "die", "das", "und", "schnell"],
}

STOPWORDS = ["the", "a"]


def tokens(text: Column) -> Column:
    return F.split(F.trim(text), " ")


def stopword_hits(toks: Column, words: list[str]) -> Column:
    return F.size(F.filter(toks, lambda x: x.isin(*words)))


def quality_score(toks: Column) -> Column:
    """Unrounded composite quality score of a token array: length
    saturation + lexical diversity + low stopword density (the standard
    pretraining-filter shape) — ``0.4·min(n/100, 1) + 0.4·(distinct/n) +
    0.2·(1 − stopwords/n)``."""
    n = F.size(toks).cast("double")
    return (
        0.4 * F.least(n / 100.0, F.lit(1.0))
        + 0.4 * (F.size(F.array_distinct(toks)).cast("double") / n)
        + 0.2 * (1.0 - stopword_hits(toks, STOPWORDS).cast("double") / n)
    )


def doc_token_counts(docs: "DataFrame") -> "DataFrame":
    """(doc_id, token, tf): per-document token frequencies as an Arrow
    kernel — the batch equivalent of ``explode(tokens)`` followed by a
    ``groupBy(doc_id, token).count()``, with the counting done
    partition-locally (a document's tokens live in one row, so its
    counts are complete without any exchange; the old plan shuffled the
    partial (doc_id, token) aggregates). Token strings are exact
    (tokenizer equivalence above); counts are exact integers. r10,
    guide §4.2/§2.4."""
    import collections

    def counts(pdf):
        rows: list[int] = []
        toks: list[str] = []
        tfs: list[int] = []
        for i, text in enumerate(pdf["text"]):
            c = collections.Counter(text.strip(" ").split(" "))
            rows += [i] * len(c)
            toks += c.keys()
            tfs += c.values()
        return np.asarray(rows, dtype=np.int64), {
            "token": toks,
            "tf": np.asarray(tfs, dtype=np.int64),
        }

    return map_kernel(
        docs.select("doc_id", "text"), ["doc_id"], {"token": "string", "tf": "long"}, counts
    )


@query(
    "text_stats",
    """
    WITH t AS (SELECT doc_id, lang, string_split(trim(text), ' ') AS w FROM documents)
    SELECT doc_id, lang,
           LENGTH(w) AS n_tokens,
           LENGTH(list_distinct(w)) AS n_uniq_tokens,
           ROUND(list_reduce(list_transform(w, x -> LENGTH(x)::DOUBLE), (a, b) -> a + b)
                 / LENGTH(w), 4) AS avg_token_len,
           ROUND(LENGTH(list_filter(w, x -> x IN ('the', 'a')))::DOUBLE / LENGTH(w), 4)
             AS stopword_ratio
    FROM t
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics: counts, uniqueness, mean token
    length, stopword ratio — the raw features for quality filtering."""
    docs = read_table(spark, sf_dir, "documents")
    w = tokens(F.col("text"))
    return docs.select(
        "doc_id",
        "lang",
        F.size(w).alias("n_tokens"),
        F.size(F.array_distinct(w)).alias("n_uniq_tokens"),
        F.round(
            F.aggregate(w, F.lit(0.0), lambda acc, x: acc + F.length(x).cast("double"))
            / F.size(w),
            4,
        ).alias("avg_token_len"),
        F.round(stopword_hits(w, STOPWORDS).cast("double") / F.size(w), 4).alias(
            "stopword_ratio"
        ),
    )


@query(
    "text_quality_score",
    """
    WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
    s AS (
      SELECT doc_id,
             LENGTH(w)::DOUBLE AS n_tokens,
             LENGTH(list_distinct(w))::DOUBLE / LENGTH(w) AS uniq_ratio,
             LENGTH(list_filter(w, x -> x IN ('the', 'a')))::DOUBLE / LENGTH(w) AS stop_ratio
      FROM t
    )
    SELECT doc_id,
           ROUND(0.4 * LEAST(n_tokens / 100.0, 1.0)
               + 0.4 * uniq_ratio
               + 0.2 * (1.0 - stop_ratio), 4) AS quality_score
    FROM s
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score: length saturation + lexical diversity +
    low stopword density (the standard pretraining-filter shape)."""
    docs = read_table(spark, sf_dir, "documents")
    score = quality_score(tokens(F.col("text")))
    return docs.select("doc_id", F.round(score, 4).alias("quality_score"))


def _langid_sql_hits() -> str:
    parts = []
    for lang, lex in LEXICONS.items():
        inlist = ", ".join(f"'{w}'" for w in lex)
        parts.append(f"LENGTH(list_filter(w, x -> x IN ({inlist}))) AS hits_{lang}")
    return ",\n           ".join(parts)


@query(
    "text_langid",
    f"""
    WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
    h AS (
      SELECT doc_id,
           {_langid_sql_hits()}
      FROM t
    )
    SELECT doc_id, hits_en, hits_fr, hits_es, hits_de,
           CASE
             WHEN hits_en = 0 AND hits_fr = 0 AND hits_es = 0 AND hits_de = 0 THEN 'unknown'
             WHEN hits_en >= hits_fr AND hits_en >= hits_es AND hits_en >= hits_de THEN 'en'
             WHEN hits_fr >= hits_es AND hits_fr >= hits_de THEN 'fr'
             WHEN hits_es >= hits_de THEN 'es'
             ELSE 'de'
           END AS predicted_lang
    FROM h
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-hit language ID (n-gram-free heuristic): count hits per
    language lexicon, argmax with a deterministic preference order.
    The oracle replicates the scoring rule exactly — the operator is
    specified by its formula, not by ground-truth labels."""
    docs = read_table(spark, sf_dir, "documents")
    w = tokens(F.col("text"))
    out = docs.select("doc_id", *[
        stopword_hits(w, lex).alias(f"hits_{lang}") for lang, lex in LEXICONS.items()
    ])
    h = {lang: F.col(f"hits_{lang}") for lang in LEXICONS}
    pred = (
        F.when((h["en"] == 0) & (h["fr"] == 0) & (h["es"] == 0) & (h["de"] == 0), "unknown")
        .when((h["en"] >= h["fr"]) & (h["en"] >= h["es"]) & (h["en"] >= h["de"]), "en")
        .when((h["fr"] >= h["es"]) & (h["fr"] >= h["de"]), "fr")
        .when(h["es"] >= h["de"], "es")
        .otherwise("de")
    )
    return out.withColumn("predicted_lang", pred)


@query(
    "text_fingerprint",
    """
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(string_split(trim(text), ' '))), ' '))
             AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive content fingerprint: MD5 over the sorted distinct
    token set. Word-shuffled copies of a document collide — the cheap
    first-pass signal before MinHash; MD5 so any engine reproduces it."""
    docs = read_table(spark, sf_dir, "documents")
    w = tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.md5(F.array_join(F.array_sort(F.array_distinct(w)), " ")).alias("fingerprint"),
    )


# GPT-2-style pre-tokenizer shape: contractions, letter runs, digit runs,
# symbol runs (no backslash escapes that differ between Java and RE2)
_BPE_ISH = "'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"
_BPE_ISH_SQL = _BPE_ISH.replace("'", "''")


@query(
    "text_token_count_bpe",
    f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_BPE_ISH_SQL}')) AS INT) AS n_bpe_tokens,
           CAST(LENGTH(string_split(trim(text), ' ')) AS INT) AS n_ws_tokens,
           ROUND(LENGTH(text)::DOUBLE
                 / len(regexp_extract_all(text, '{_BPE_ISH_SQL}')), 4) AS chars_per_token
    FROM documents
    """,
)
def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting: a GPT-2-style pre-tokenizer regex (runs of
    letters / digits / symbols + contractions) counted JVM-side — the
    standard cheap estimate of LLM token cost per document, with
    chars-per-token as the compression proxy. Whitespace count alongside
    for the ratio features in quality filtering."""
    docs = read_table(spark, sf_dir, "documents")
    bpe = F.regexp_extract_all("text", F.lit(_BPE_ISH), F.lit(0))
    return docs.select(
        "doc_id",
        F.size(bpe).alias("n_bpe_tokens"),
        F.size(tokens(F.col("text"))).alias("n_ws_tokens"),
        F.round(F.length("text").cast("double") / F.size(bpe), 4).alias("chars_per_token"),
    )


@query(
    "pipeline_docs_quality_corpus",
    """
    WITH t AS (
      SELECT doc_id, lang, string_split(trim(text), ' ') AS w,
             md5(array_to_string(string_split(trim(text), ' ')[1:10], ' ')) AS fp
      FROM documents
    ), scored AS (
      SELECT doc_id, lang, fp,
             LENGTH(w) AS n_tokens,
             LENGTH(list_filter(w, x -> x IN ('the', 'a')))::DOUBLE / LENGTH(w) AS stop_ratio
      FROM t WHERE LENGTH(w) >= 5
    ), kept AS (
      SELECT * FROM scored
      WHERE stop_ratio >= 0.02
      QUALIFY ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) = 1
    )
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(AVG(n_tokens), 4) AS avg_tokens
    FROM kept GROUP BY lang
    """,
)
def pipeline_docs_quality_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus curation in ONE plan: length gate →
    stopword-ratio quality gate → exact dedup (keep lowest doc_id per
    fingerprint) → per-language corpus stats. The composition every
    100 TB text pipeline runs nightly; each stage is a narrow transform
    except the dedup window (one shuffle on the fingerprint) and the
    final tiny aggregation."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    w = tokens(F.col("text"))
    scored = (
        docs.select(
            "doc_id",
            "lang",
            F.size(w).alias("n_tokens"),
            (stopword_hits(w, STOPWORDS).cast("double") / F.size(w)).alias("stop_ratio"),
            F.md5(F.concat_ws(" ", F.slice(w, 1, 10))).alias("fp"),
        )
        .filter(F.col("n_tokens") >= 5)
        .filter(F.col("stop_ratio") >= 0.02)
    )
    kept = scored.withColumn(
        "rn", F.row_number().over(Window.partitionBy("fp").orderBy("doc_id"))
    ).filter(F.col("rn") == 1)
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
    )


@query(
    "text_chunk_fixed",
    """
    SELECT doc_id, 180*n AS chunk_start,
           length(substring(text, 180*n + 1, 200)) AS chunk_chars,
           md5(substring(text, 180*n + 1, 200)) AS chunk_md5
    FROM documents
    JOIN (SELECT unnest(range(0, 64)) AS n) t ON 180*n < length(text)
    WHERE length(text) > 0
    """,
)
def text_chunk_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size chunking with overlap — the context-window packing step
    of an LLM training pipeline: 200-char chunks on a 180-char stride
    (20-char overlap so no boundary text is ever lost to truncation).

    Offsets come from `sequence()` + `posexplode` — pure JVM expression
    work, one output row per chunk, no Python and no shuffle at all (the
    explode is pipelined into the scan). Chunks are checksummed so the
    oracle verifies content, not just counts; VARCHAR slicing matches
    byte slicing because the corpus is ASCII (asserted in tests)."""
    docs = read_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    offsets = F.sequence(
        F.lit(0), F.greatest(F.length("text") - 1, F.lit(0)), F.lit(180)
    )
    chunk = F.substring(F.col("text"), F.col("chunk_start") + 1, 200)
    return (
        docs.select("doc_id", "text", F.explode(offsets).alias("chunk_start"))
        .select(
            "doc_id",
            "chunk_start",
            F.length(chunk).alias("chunk_chars"),
            F.md5(chunk.cast("binary")).alias("chunk_md5"),
        )
    )


@query(
    "text_top_tokens_per_lang",
    """
    SELECT lang, token, cnt, rn
    FROM (
      SELECT lang, token, cnt,
             ROW_NUMBER() OVER (
               PARTITION BY lang ORDER BY cnt DESC, token
             ) AS rn
      FROM (
        SELECT lang, token, COUNT(*) AS cnt
        FROM (
          SELECT lang, unnest(string_split(trim(text), ' ')) AS token
          FROM documents
        ) raw
        WHERE token <> ''
        GROUP BY lang, token
      ) counted
    ) ranked
    WHERE rn <= 5
    """,
)
def text_top_tokens_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus frequency analysis: the 5 most common tokens per language
    (the Zipf-head inspection every data-mixture audit starts with).

    explode → two-level reduction: the (lang, token) count partial-
    aggregates map-side, so the shuffle carries distinct tokens, not
    token occurrences; the top-k window then runs on the already-tiny
    per-language count frame. Token ties rank deterministically
    (count DESC, token ASC)."""
    docs = read_table(spark, sf_dir, "documents")
    counted = (
        docs.select("lang", F.explode(tokens(F.col("text"))).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), "token")
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "token", "cnt", "rn")
    )


# ---------------------------------------------------------------------------
# lexical retrieval: BM25 scoring + TF-IDF keyword extraction
# ---------------------------------------------------------------------------

_BM25_K1 = 1.2
_BM25_B = 0.75
_QUERY_TERMS = ["spark", "join", "window"]


def bm25_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, score): unrounded Okapi BM25 of every document for the
    fixed query ``_QUERY_TERMS``.

    North-star retrieval op (SURVEY.md §2.9). Scale design: for a KNOWN
    query, per-term tf comes from ``size(filter(tokens, = term))`` —
    pure codegen inside the scan, NO token explode and NO shuffle. The
    corpus-level constants (N, avgdl, per-term document frequency) are
    one tiny scalar aggregate — at 100 TB the postings shuffle a full
    inverted index would need simply never happens.
    """
    w = tokens(F.col("text"))

    def _eq(term: str):
        # factory, not a defaulted lambda arg: a two-arg lambda would hit
        # F.filter's (element, index) overload and compare tokens to indexes
        return lambda x: x == term

    # NOTE (r10, measured and kept): an exact-count Arrow kernel for this
    # (dl, tf1..tf3) frame was measured SLOWER than the HOF expressions —
    # interleaved A/B at sf0.1: 0.18/0.22 s expression vs 0.22/0.29 s
    # kernel. With only 3 fixed terms the per-row HOF work is small and
    # the Arrow text roundtrip dominates — the opposite of the
    # full-vocabulary tfidf case, where the kernel removes an exchange.
    d = docs.select(
        "doc_id",
        F.size(w).cast("double").alias("dl"),
        *[
            F.size(F.filter(w, _eq(t))).cast("double").alias(f"tf{i}")
            for i, t in enumerate(_QUERY_TERMS, 1)
        ],
    )
    # corpus constants ride the plan as a broadcast 1-row frame instead of
    # a driver collect; d (narrow numeric projection) is persisted so the
    # corpus is tokenized ONCE per run and the builder schedules no jobs.
    # Column refs carry the exact doubles the former F.lit()s carried —
    # the score expression and its round are bit-identical.
    d = persist_once(d)
    g = d.agg(
        F.count("*").cast("double").alias("n"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("int")).cast("double").alias(f"df{i}")
            for i in range(1, len(_QUERY_TERMS) + 1)
        ],
    )
    norm = F.lit(_BM25_K1) * (
        F.lit(1 - _BM25_B) + F.lit(_BM25_B) * F.col("dl") / F.col("avgdl")
    )
    score = None
    for i in range(1, len(_QUERY_TERMS) + 1):
        idf = F.log(
            F.lit(1.0)
            + (F.col("n") - F.col(f"df{i}") + F.lit(0.5)) / (F.col(f"df{i}") + F.lit(0.5))
        )
        part = idf * F.col(f"tf{i}") * F.lit(_BM25_K1 + 1) / (F.col(f"tf{i}") + norm)
        score = part if score is None else score + part
    return d.crossJoin(F.broadcast(g)).select("doc_id", score.alias("score"))


@query(
    "text_bm25_topk",
    """
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
    ), s AS (
      SELECT doc_id,
             ln(1 + (n - df1 + 0.5) / (df1 + 0.5))
               * tf1 * 2.2 / (tf1 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
           + ln(1 + (n - df2 + 0.5) / (df2 + 0.5))
               * tf2 * 2.2 / (tf2 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
           + ln(1 + (n - df3 + 0.5) / (df3 + 0.5))
               * tf3 * 2.2 / (tf3 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
             AS score
      FROM tf, g
    )
    SELECT doc_id, ROUND(score, 4) AS bm25
    FROM s
    ORDER BY score DESC, doc_id
    LIMIT 10
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for the fixed query {spark, join, window} (Okapi
    BM25+, k1=1.2, b=0.75), scored by `bm25_scores`; the plan is two
    scans and a take-ordered top-k."""
    return (
        bm25_scores(read_table(spark, sf_dir, "documents"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(10)
        .select("doc_id", F.round("score", 4).alias("bm25"))
    )


@query(
    "text_tfidf_keywords",
    """
    WITH tok AS (
      SELECT doc_id, UNNEST(string_split(trim(text), ' ')) AS token
      FROM documents
    ), tf AS (
      SELECT doc_id, token, COUNT(*)::DOUBLE AS tf
      FROM tok GROUP BY doc_id, token
    ), df AS (
      SELECT token, COUNT(DISTINCT doc_id)::DOUBLE AS df FROM tok GROUP BY token
    ), n AS (SELECT COUNT(*)::DOUBLE AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token, tf.tf * ln(n.n / df.df) AS tfidf
      FROM tf JOIN df USING (token), n
    )
    SELECT doc_id, token, ROUND(tfidf, 4) AS tfidf
    FROM (
      SELECT doc_id, token, tfidf,
             ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY tfidf DESC, token
             ) AS rn
      FROM scored
    ) t WHERE rn <= 3
    """,
)
def text_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by TF-IDF — keyword
    extraction over the full inverted index (the arbitrary-query
    counterpart to ``text_bm25_topk``'s known-query path).

    Scale design: explode is a shuffle-free flatMap; term frequencies
    shuffle once on (doc_id, token); document frequencies are a second
    aggregate on token whose result is vocabulary-sized (≪ corpus — it
    broadcasts back onto the postings under AQE); the per-doc top-3 is
    a window on the same doc_id-hashed layout the tf aggregate already
    produced.
    """
    docs = read_table(spark, sf_dir, "documents")
    # per-doc token counts straight from the Arrow kernel (r10): a
    # document's tokens live in one row, so its (token, tf) pairs are
    # complete WITHOUT the old explode + (doc_id, token) exchange — one
    # shuffle gone. The frame feeds BOTH the scoring join and the df
    # aggregate (countDistinct(doc_id) per token ≡ COUNT(*) over the
    # per-doc counts — each (doc, token) appears exactly once), so it is
    # persisted and the corpus tokenizes once per run.
    tfk = persist_once(doc_token_counts(docs.select("doc_id", "text")))
    tf = tfk.select("doc_id", "token", F.col("tf").cast("double").alias("tf"))
    df = tfk.groupBy("token").agg(F.count(F.lit(1)).cast("double").alias("df"))
    # COUNT(*) of the input table == its parquet metadata row count: a
    # footer read, not a Spark job (the builder formerly scheduled one)
    n = table_row_count(sf_dir, "documents")
    scored = tf.join(F.broadcast(df), "token").select(
        "doc_id", "token", (F.col("tf") * F.log(F.lit(float(n)) / F.col("df"))).alias("tfidf")
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "token", F.round("tfidf", 4).alias("tfidf"))
    )


# ---------------------------------------------------------------------------
# PII redaction + information-theoretic quality
# ---------------------------------------------------------------------------

# kept to syntax valid in BOTH Java regex (Spark) and RE2 (DuckDB):
# character classes, bounded repetition — no lookarounds, no backrefs.
_PII_EMAIL = "[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]{2,}"
_PII_URL = "https?://[^ ]+"
_PII_SSN = "[0-9]{3}-[0-9]{2}-[0-9]{4}"


@query(
    "text_redact_pii",
    """
    WITH seeded AS (
      SELECT doc_id,
             text || ' contact u' || doc_id ||
             '@mail.example.org or https://ex.org/u/' || doc_id ||
             ' ssn ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') ||
             '-42-1337' AS t
      FROM documents
    ), counted AS (
      SELECT doc_id, t,
             LENGTH(regexp_split_to_array(t, '[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]{2,}')) - 1 AS n_email,
             LENGTH(regexp_split_to_array(t, 'https?://[^ ]+')) - 1 AS n_url,
             LENGTH(regexp_split_to_array(t, '[0-9]{3}-[0-9]{2}-[0-9]{4}')) - 1 AS n_ssn
      FROM seeded
    )
    SELECT doc_id, n_email, n_url, n_ssn,
           regexp_replace(
             regexp_replace(
               regexp_replace(t, '[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'),
               'https?://[^ ]+', '<URL>', 'g'),
             '[0-9]{3}-[0-9]{2}-[0-9]{4}', '<SSN>', 'g') AS redacted
    FROM counted
    """,
)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (C4/Dolma-style pre-training hygiene): replace
    emails, URLs and SSN-shaped numbers with typed placeholder tokens and
    count the hits per document.

    The synthetic corpus carries no PII, so both engine and oracle first
    plant deterministic doc_id-derived PII, making the redaction
    verifiable (every doc must count 1/1/1 and contain no residual
    match). Pure regexp codegen — scan → project, no shuffle; patterns
    restricted to the Java-regex ∩ RE2 common subset.
    """
    docs = read_table(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"), F.col("doc_id").cast("string"),
            F.lit("@mail.example.org or https://ex.org/u/"),
            F.col("doc_id").cast("string"),
            F.lit(" ssn "),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-42-1337"),
        ).alias("t"),
    )

    def n_hits(pat: str):
        return F.size(F.split(F.col("t"), pat)) - F.lit(1)

    return seeded.select(
        "doc_id",
        n_hits(_PII_EMAIL).alias("n_email"),
        n_hits(_PII_URL).alias("n_url"),
        n_hits(_PII_SSN).alias("n_ssn"),
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col("t"), _PII_EMAIL, "<EMAIL>"),
                _PII_URL, "<URL>"),
            _PII_SSN, "<SSN>",
        ).alias("redacted"),
    )


@query(
    "text_entropy_quality",
    """
    WITH tf AS (
      SELECT doc_id, token, COUNT(*)::DOUBLE AS c
      FROM (SELECT doc_id, UNNEST(string_split(trim(text), ' ')) AS token
            FROM documents) t
      GROUP BY doc_id, token
    ), tot AS (
      SELECT doc_id, SUM(c) AS n FROM tf GROUP BY doc_id
    )
    SELECT tf.doc_id,
           CAST(tot.n AS BIGINT) AS n_tokens,
           ROUND(-SUM((c / tot.n) * ln(c / tot.n)), 4) AS token_entropy
    FROM tf JOIN tot USING (doc_id)
    GROUP BY tf.doc_id, tot.n
    """,
)
def text_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram token entropy per document (nats) — the
    information-theoretic quality feature: repetitive/degenerate docs
    score low, diverse docs approach ln(n_uniq). Complements the
    Gopher repetition heuristics in operators/curation.py.

    Plan: explode (flatMap, no shuffle) → tf groupBy on (doc_id, token)
    → per-doc window + final groupBy, all hashed on doc_id — the window
    and the final aggregate reuse one exchange.
    """
    docs = read_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("double").alias("c"))
    )
    w = Window.partitionBy("doc_id")
    p = F.col("c") / F.sum("c").over(w)
    return (
        tf.withColumn("p", p)
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.round(-F.sum(F.col("p") * F.log(F.col("p"))), 4).alias("token_entropy"),
        )
    )


@query(
    "text_zipf_exponent",
    """
    WITH tf AS (
      SELECT lang, token, COUNT(*)::DOUBLE AS freq
      FROM (SELECT lang, UNNEST(string_split(trim(text), ' ')) AS token
            FROM documents) t
      GROUP BY lang, token
    ), ranked AS (
      SELECT lang, freq,
             ROW_NUMBER() OVER (
               PARTITION BY lang ORDER BY freq DESC, token
             )::DOUBLE AS rnk
      FROM tf
    )
    SELECT lang,
           COUNT(*) AS n_types,
           ROUND(-regr_slope(ln(freq), ln(rnk)), 4) AS zipf_exponent,
           ROUND(regr_r2(ln(freq), ln(rnk)), 4) AS fit_r2
    FROM ranked
    GROUP BY lang
    """,
)
def text_zipf_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf power-law fit per language: regress ln(freq) on ln(rank) over
    the type-frequency table; natural text yields exponent ≈ 1 with high
    R² — corpus-health drift in either number flags degenerate or
    machine-generated text (a standard pretraining-data audit).

    Plan: tf groupBy shuffles on (lang, token); the rank window and the
    regression aggregate both hash on lang — one further exchange whose
    row count is the type vocabulary, not the corpus.
    """
    docs = read_table(spark, sf_dir, "documents")
    tf = (
        docs.select("lang", F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count("*").cast("double").alias("freq"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("freq").desc(), F.col("token"))
    ranked = tf.withColumn("rnk", F.row_number().over(w).cast("double"))
    lf, lr = F.log("freq"), F.log("rnk")
    return ranked.groupBy("lang").agg(
        F.count("*").alias("n_types"),
        F.round(-F.regr_slope(lf, lr), 4).alias("zipf_exponent"),
        F.round(F.regr_r2(lf, lr), 4).alias("fit_r2"),
    )


@query(
    "text_fuzzy_token_pairs",
    """
    WITH v AS (
      SELECT DISTINCT token FROM (
        SELECT UNNEST(string_split(trim(text), ' ')) AS token FROM documents
      ) t WHERE LENGTH(token) >= 3
    )
    SELECT a.token AS token_a, b.token AS token_b,
           levenshtein(a.token, b.token) AS dist
    FROM v a JOIN v b
      ON a.token < b.token
     AND ABS(LENGTH(a.token) - LENGTH(b.token)) <= 2
    WHERE levenshtein(a.token, b.token) <= 2
    """,
)
def text_fuzzy_token_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy vocabulary matching (typo/variant detection): token pairs at
    edit distance ≤ 2, the entity-resolution primitive. Length-band
    blocking keeps it an EQUI join: one side keys on its length, the
    other fans out to lengths within the band, so the quadratic
    levenshtein verify runs only inside per-length blocks — the standard
    blocked fuzzy-join plan (at 100 TB the block key shuffles the
    distinct vocabulary, never the corpus).
    """
    docs = read_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .filter(F.length("token") >= 3)
        .distinct()
    )
    # EQUI-join blocking: side A keys on its own length; side B fans out
    # to every length within the edit band, so each candidate pair meets
    # on exactly one block key (no post-join dedup needed)
    a = vocab.select(
        F.col("token").alias("token_a"), F.length("token").alias("blk")
    )
    b = vocab.select(
        F.col("token").alias("token_b"),
        F.explode(
            F.sequence(F.length("token") - 2, F.length("token") + 2)
        ).alias("blk"),
    )
    cand = a.join(b, ["blk"]).filter(F.col("token_a") < F.col("token_b"))
    dist = F.levenshtein("token_a", "token_b")
    return (
        cand.withColumn("dist", dist)
        .filter(F.col("dist") <= 2)
        .select("token_a", "token_b", "dist")
    )


def _unigram_token_probs(docs: DataFrame) -> DataFrame:
    """(token, doc_id, p): every token of ``docs`` with its probability
    under the corpus-trained unigram model p(token) = count/total. The LM
    is a vocabulary-sized aggregate broadcast back onto the exploded
    token stream; the corpus total is one driver count."""
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    total = tok.count()
    lm = tok.groupBy("token").agg(
        (F.count("*").cast("double") / F.lit(float(total))).alias("p")
    )
    return tok.join(F.broadcast(lm), "token")


@query(
    "text_unigram_nll",
    """
    WITH tok AS (
      SELECT doc_id, UNNEST(string_split(trim(text), ' ')) AS token
      FROM documents
    ), lm AS (
      SELECT token,
             COUNT(*)::DOUBLE / (SELECT COUNT(*) FROM tok) AS p
      FROM tok GROUP BY token
    )
    SELECT tok.doc_id,
           COUNT(*) AS n_tokens,
           ROUND(-AVG(ln(lm.p)), 4) AS nll,
           ROUND(exp(-AVG(ln(lm.p))), 2) AS ppl
    FROM tok JOIN lm USING (token)
    GROUP BY tok.doc_id
    """,
)
def text_unigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring with a corpus-trained unigram model:
    per-document mean negative log-likelihood (and perplexity) under
    p(token) = corpus_count/corpus_total. Out-of-distribution or
    degenerate documents score high-NLL and get filtered or re-binned —
    the standard head/middle/tail split of pretraining corpora.

    Plan: the LM is a vocabulary-sized aggregate that BROADCASTS back
    onto the exploded token stream; per-doc scoring partial-aggregates
    on doc_id. Two scans of the token stream, shuffles bounded by
    vocabulary + documents, never corpus tokens.
    """
    scored = _unigram_token_probs(read_table(spark, sf_dir, "documents"))
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.round(-F.avg(F.log("p")), 4).alias("nll"),
        F.round(F.exp(-F.avg(F.log("p"))), 2).alias("ppl"),
    )


@query(
    "text_langid_confusion",
    f"""
    WITH t AS (SELECT doc_id, lang, string_split(trim(text), ' ') AS w FROM documents),
    h AS (
      SELECT doc_id, lang,
           {_langid_sql_hits()}
      FROM t
    ), p AS (
      SELECT lang AS actual_lang,
             CASE
               WHEN hits_en = 0 AND hits_fr = 0 AND hits_es = 0 AND hits_de = 0 THEN 'unknown'
               WHEN hits_en >= hits_fr AND hits_en >= hits_es AND hits_en >= hits_de THEN 'en'
               WHEN hits_fr >= hits_es AND hits_fr >= hits_de THEN 'fr'
               WHEN hits_es >= hits_de THEN 'es'
               ELSE 'de'
             END AS predicted_lang
      FROM h
    )
    SELECT actual_lang, predicted_lang, COUNT(*) AS n_docs
    FROM p GROUP BY actual_lang, predicted_lang
    ORDER BY actual_lang, predicted_lang
    """,
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: classifier prediction × labeled
    lang, with counts — the corpus-health audit that tells you whether
    the language mixture you THINK you sampled is the one the classifier
    would assign (mismatch = lexicon drift or mislabeled sources). Same
    row-local scoring as `text_langid` plus one tiny (≤ |langs|²-group)
    aggregate."""
    pred = text_langid(spark, sf_dir).select("doc_id", "predicted_lang")
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("lang").alias("actual_lang")
    )
    return (
        docs.join(pred, "doc_id")
        .groupBy("actual_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("actual_lang", "predicted_lang")
    )


@query(
    "text_bigram_nll",
    """
    WITH tok AS (
      SELECT doc_id, unnest(ws) AS token, generate_subscripts(ws, 1) AS pos
      FROM (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents)
    ), tot AS (SELECT COUNT(*) AS n FROM tok),
    uni AS (
      SELECT token, COUNT(*)::DOUBLE / (SELECT n FROM tot) AS pu
      FROM tok GROUP BY token
    ), big AS (
      SELECT doc_id, pos, token AS w2,
             lag(token) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
      FROM tok
    ), bc AS (
      SELECT w1, w2, COUNT(*) AS c12 FROM big WHERE w1 IS NOT NULL GROUP BY w1, w2
    ), cc AS (
      SELECT w1, SUM(c12) AS c1 FROM bc GROUP BY w1
    )
    SELECT big.doc_id,
           COUNT(*) AS n_bigrams,
           ROUND(-AVG(ln(0.7 * bc.c12 / cc.c1 + 0.3 * uni.pu)), 4) AS nll
    FROM big
    JOIN bc ON bc.w1 = big.w1 AND bc.w2 = big.w2
    JOIN cc ON cc.w1 = big.w1
    JOIN uni ON uni.token = big.w2
    WHERE big.w1 IS NOT NULL
    GROUP BY big.doc_id
    """,
)
def text_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram LM scoring (the KenLM-lite upgrade of
    `text_unigram_nll`): p(w₂|w₁) = 0.7·c(w₁w₂)/c(w₁·) + 0.3·p_uni(w₂),
    per-document mean NLL over bigrams. Repetitive boilerplate scores
    near-zero NLL; OOD text scores high — a sharper quality split than
    unigram because it sees word ORDER.

    Plan: bigrams come from one windowed `lag` per (doc, pos) — no
    self-join of the token stream; the vocabulary-sized tables (context
    totals, unigram probabilities) carry explicit broadcast hints. The
    BIGRAM count table is the one object that grows super-vocabulary, so
    it gets NO hint: AQE broadcasts it at test scale (asserted in
    tests/test_plans.py) and falls back to a (w1, w2)-keyed shuffle join
    at corpus scale — a uniform key, and the table can be
    frequency-pruned without changing the interpolation's fallback
    mass. Final per-doc agg partial-aggregates on doc_id."""
    docs = read_table(spark, sf_dir, "documents")
    # tok feeds the total-count cursor, the unigram LM, and the bigram
    # stream: persisted so the corpus tokenizes once per run; the count
    # below doubles as the cache materialization.
    tok = persist_once(
        docs.select(
            "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "token")
        )
    )
    total = tok.count()
    uni = tok.groupBy("token").agg(
        (F.count("*").cast("double") / F.lit(float(total))).alias("pu")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    big = tok.select(
        "doc_id",
        F.col("token").alias("w2"),
        F.lag("token").over(w).alias("w1"),
    ).filter(F.col("w1").isNotNull())
    bc = big.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    cc = bc.groupBy("w1").agg(F.sum("c12").alias("c1"))
    p = 0.7 * F.col("c12") / F.col("c1") + 0.3 * F.col("pu")
    return (
        big.join(bc, ["w1", "w2"])
        .join(F.broadcast(cc), "w1")
        .join(F.broadcast(uni), F.col("w2") == F.col("token"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(-F.avg(F.log(p)), 4).alias("nll"),
        )
    )


@query(
    "text_head_middle_tail",
    """
    WITH tok AS (
      SELECT doc_id, UNNEST(string_split(trim(text), ' ')) AS token
      FROM documents
    ), lm AS (
      SELECT token,
             COUNT(*)::DOUBLE / (SELECT COUNT(*) FROM tok) AS p
      FROM tok GROUP BY token
    ), nll AS (
      SELECT tok.doc_id, -AVG(ln(lm.p)) AS nll
      FROM tok JOIN lm USING (token)
      GROUP BY tok.doc_id
    ), binned AS (
      SELECT d.lang, n.doc_id, n.nll,
             NTILE(3) OVER (PARTITION BY d.lang ORDER BY n.nll, n.doc_id)
               AS tercile
      FROM nll n JOIN documents d USING (doc_id)
    )
    SELECT lang,
           CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
             AS bucket,
           COUNT(*) AS n_docs,
           ROUND(AVG(nll), 4) AS avg_nll
    FROM binned GROUP BY lang, tercile ORDER BY lang, tercile
    """,
)
def text_head_middle_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail corpus split: per-language terciles of
    unigram-LM NLL (head = lowest perplexity). Downstream mixtures
    up-sample head, keep middle, drop or re-filter tail. NTILE over a
    per-language window with a doc_id tiebreak keeps bucket boundaries
    deterministic across engines and partitionings.

    Plan: LM scoring as in `text_unigram_nll` (vocabulary-sized LM
    broadcast onto the token stream); the ntile window shuffles one row
    per document on the language key — skew-free since scoring already
    collapsed the corpus to per-doc rows."""
    docs = read_table(spark, sf_dir, "documents")
    nll = (
        _unigram_token_probs(docs)
        .groupBy("doc_id")
        .agg((-F.avg(F.log("p"))).alias("nll"))
    )
    w = Window.partitionBy("lang").orderBy("nll", "doc_id")
    binned = nll.join(docs.select("doc_id", "lang"), "doc_id").select(
        "lang", "nll", F.ntile(3).over(w).alias("tercile")
    )
    bucket = (
        F.when(F.col("tercile") == 1, "head")
        .when(F.col("tercile") == 2, "middle")
        .otherwise("tail")
    )
    return (
        binned.groupBy("lang", "tercile")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.round(F.avg("nll"), 4).alias("avg_nll"))
        .select("lang", bucket.alias("bucket"), "n_docs", "avg_nll")
        .orderBy("lang", "tercile")
    )


@query(
    "text_inverted_postings",
    """
    WITH tok AS (
      SELECT DISTINCT doc_id, UNNEST(string_split(trim(text), ' ')) AS token
      FROM documents
    ), grouped AS (
      SELECT token, COUNT(*) AS df, list_sort(list(doc_id)) AS postings
      FROM tok GROUP BY token
    )
    SELECT token, df, postings
    FROM grouped WHERE df BETWEEN 2 AND 400
    """,
)
def text_inverted_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: token → sorted posting list of documents
    containing it (document frequency 2-400 — singletons are useless for
    retrieval, stop-level terms get a dedicated path). The
    materialization behind `text_bm25_topk`'s on-the-fly scoring: stored
    as a table, lookups become a semi-join against kilobyte posting
    arrays instead of a corpus scan.

    Plan: explode → per-doc distinct → one shuffle on token;
    `sort_array(collect_list(...))` pins posting order so output is
    partitioning-independent. At 100 TB, posting lists for mid-df terms
    stay bounded by the df cap; head terms (df above cap) belong in a
    separate impact-ordered or bitmapped structure, not a row array."""
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    ).distinct()
    return (
        tok.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sort_array(F.collect_list("doc_id")).alias("postings"),
        )
        .filter(F.col("df").between(2, 400))
    )


@query(
    "text_source_mix_entropy",
    """
    WITH c AS (
      SELECT source, lang, COUNT(*) AS n FROM documents GROUP BY source, lang
    ), t AS (
      SELECT source, SUM(n) AS tot FROM c GROUP BY source
    )
    SELECT c.source,
           CAST(t.tot AS BIGINT) AS n_docs,
           COUNT(*) AS n_langs,
           ROUND(-SUM((c.n::DOUBLE / t.tot) * ln(c.n::DOUBLE / t.tot)), 4)
             AS lang_entropy
    FROM c JOIN t USING (source)
    GROUP BY c.source, t.tot
    ORDER BY c.source
    """,
)
def text_source_mix_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language-mixture diagnostics: language count and
    Shannon entropy of the language distribution within each source —
    the drift/contamination audit for a multi-source corpus (a
    supposedly-monolingual source with rising entropy means its crawl
    went off the rails). Two nested partial-aggregatable group-bys;
    output is |sources| rows."""
    docs = read_table(spark, sf_dir, "documents")
    c = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("source").agg(F.sum("n").alias("tot"))
    p = F.col("n").cast("double") / F.col("tot")
    return (
        c.join(F.broadcast(t), "source")
        .groupBy("source", "tot")
        .agg(
            F.count(F.lit(1)).alias("n_langs"),
            F.round(-F.sum(p * F.log(p)), 4).alias("lang_entropy"),
        )
        .select(
            "source",
            F.col("tot").alias("n_docs"),
            "n_langs",
            "lang_entropy",
        )
        .orderBy("source")
    )


def _c4_spans(docs: DataFrame) -> DataFrame:
    """(doc_id, source, idx, span): every document cut into consecutive
    10-word spans — pure codegen array work inside the scan."""
    W = 10
    words = F.split(F.trim(F.col("text")), " ")
    n_chunks = F.ceil(F.size(words) / F.lit(float(W))).cast("int")
    spans = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(words, i * W + 1, W), " "),
    )
    return docs.select("doc_id", "source", F.posexplode(spans).alias("idx", "span"))


def _c4_span_accounting(ex: DataFrame, base_index: DataFrame | None) -> DataFrame:
    """Per-source C4 first-occurrence-wins accounting of the spans ``ex``:
    (source, n_docs, n_spans, n_removed, retained_words). A span is kept
    where it is the first (doc_id, idx) occurrence within ``ex`` — a
    partial-aggregatable min-struct per span — and, given a
    ``base_index`` of earlier spans (None for a one-shot run), absent
    from it (one left-anti join). Kept volume is attributed to the first
    occurrence's source."""
    totals = ex.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_spans"),
    )
    firsts = ex.groupBy("span").agg(
        F.min(F.struct("doc_id", "idx", "source")).alias("f")
    )
    if base_index is not None:
        firsts = firsts.join(base_index, "span", "left_anti")
    kept = (
        firsts.select(
            F.col("f.source").alias("source"),
            F.size(F.split(F.col("span"), " ")).alias("w"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("w").alias("retained_words"),
        )
    )
    return (
        totals.join(kept, "source", "left")
        .select(
            "source",
            "n_docs",
            "n_spans",
            (F.col("n_spans") - F.coalesce(F.col("n_kept"), F.lit(0))).alias(
                "n_removed"
            ),
            F.coalesce(F.col("retained_words"), F.lit(0)).cast("long").alias(
                "retained_words"
            ),
        )
        .orderBy("source")
    )


@query(
    "text_dedup_span_c4",
    """
    WITH w AS (
      SELECT doc_id, source, string_split(trim(text), ' ') AS words
      FROM documents
    ), ex AS (
      SELECT doc_id, source,
             unnest(range(CAST(CEIL(len(words) / 10.0) AS INT))) AS idx,
             words
      FROM w
    ), spans AS (
      SELECT doc_id, source, idx,
             array_to_string(words[idx*10+1 : LEAST((idx+1)*10, len(words))], ' ')
               AS span
      FROM ex
    ), marked AS (
      SELECT doc_id, source, span,
             ROW_NUMBER() OVER (PARTITION BY span ORDER BY doc_id, idx) = 1
               AS kept
      FROM spans
    )
    SELECT source,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_spans,
           CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
           CAST(SUM(CASE WHEN kept THEN len(string_split(span, ' ')) ELSE 0 END)
                AS BIGINT) AS retained_words
    FROM marked
    GROUP BY source
    ORDER BY source
    """,
)
def text_dedup_span_c4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style duplicated-span removal (Raffel et al. 2020 §2.2 — the
    canonical pretraining-corpus cleanup): cut every document into
    consecutive 10-word spans and DELETE each span whose identical text
    already occurred anywhere earlier in the corpus (global
    first-occurrence-wins, ordered by (doc_id, span index)); the
    reference paper used 3-sentence spans — this corpus has no sentence
    punctuation, so the span unit is words. Returns the per-source
    dedup accounting: span counts, spans removed, retained word volume.

    Scale notes — deliberately NO `PARTITION BY span` window: a
    boilerplate corpus can repeat one span millions of times, and a
    per-span window would funnel all of them into one task. Instead the
    first occurrence is `min(struct(doc_id, idx, source))` per span — a
    PARTIAL-AGGREGATABLE min, so a hot span collapses map-side before
    the shuffle ever sees it. The kept/removed accounting then splits
    into two tiny per-source aggregates: totals from the exploded spans
    (removed(s) = spans in s that are not firsts), kept volume from the
    firsts frame (attributed to the first occurrence's source — the
    identical attribution a first-wins window would produce). Span
    construction is pure codegen array work inside the scan; at longer
    span widths swap the raw span text for `xxhash64(span)` as the
    grouping key (here spans are ≤ ~80 bytes, so the text itself is the
    key and keeps the oracle exact)."""
    return _c4_span_accounting(_c4_spans(read_table(spark, sf_dir, "documents")), None)


@query(
    "text_dedup_span_c4_delta",
    """
    WITH w AS (
      SELECT doc_id, source, string_split(trim(text), ' ') AS words
      FROM documents
    ), ex AS (
      SELECT doc_id, source,
             unnest(range(CAST(CEIL(len(words) / 10.0) AS INT))) AS idx,
             words
      FROM w
    ), spans AS (
      SELECT doc_id, source, idx,
             array_to_string(words[idx*10+1 : LEAST((idx+1)*10, len(words))], ' ')
               AS span
      FROM ex
    ), base_index AS (
      SELECT DISTINCT span FROM spans WHERE doc_id < 400
    ), delta AS (
      SELECT * FROM spans WHERE doc_id >= 400
    ), delta_firsts AS (
      SELECT span,
             MIN({'doc_id': doc_id, 'idx': idx, 'source': source}) AS f
      FROM delta GROUP BY span
    ), kept AS (
      SELECT f.source AS source, len(string_split(span, ' ')) AS w
      FROM delta_firsts
      WHERE span NOT IN (SELECT span FROM base_index)
    ), totals AS (
      SELECT source, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_spans
      FROM delta GROUP BY source
    ), keptagg AS (
      SELECT source, COUNT(*) AS n_kept, SUM(w) AS retained_words
      FROM kept GROUP BY source
    )
    SELECT t.source, t.n_docs, t.n_spans,
           CAST(t.n_spans - COALESCE(k.n_kept, 0) AS BIGINT) AS n_removed,
           CAST(COALESCE(k.retained_words, 0) AS BIGINT) AS retained_words
    FROM totals t LEFT JOIN keptagg k USING (source)
    ORDER BY t.source
    """,
)
def text_dedup_span_c4_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL C4 span dedup — the production shape of
    `text_dedup_span_c4`: a new document batch (here doc_id ≥ 400, the
    last 20% of the corpus 'arriving later') dedups against the BASE
    corpus via its distinct-span INDEX, never rescanning or re-pairing
    the base. A delta span survives iff it is absent from the base index
    AND is the first occurrence within the delta — which equals the
    full-corpus first-wins verdict exactly whenever base ids precede
    delta ids (pinned by a pytest comparing against the one-shot run).

    Scale notes: the base contributes ONE partial-aggregatable DISTINCT
    over its spans (the index a real pipeline persists and appends to);
    delta firsts are a min-struct aggregate (map-side combinable, hot
    spans collapse before the shuffle); the index anti-join is the only
    base-delta contact and carries |distinct base spans| rows, not base
    text. Incremental cost is O(delta + index), independent of total
    corpus history — the property that lets a 100 TB corpus absorb daily
    batches."""
    cut = 400
    ex = _c4_spans(read_table(spark, sf_dir, "documents"))
    base_index = ex.filter(F.col("doc_id") < cut).select("span").distinct()
    return _c4_span_accounting(ex.filter(F.col("doc_id") >= cut), base_index)


@query(
    "text_dedup_sentences_global",
    """
    WITH segs AS (
      SELECT doc_id,
             generate_subscripts(parts, 1) AS idx,
             unnest(parts) AS seg
      FROM (SELECT doc_id, string_split(text, '. ') AS parts FROM documents)
    ), f AS (
      SELECT doc_id, idx, seg FROM segs WHERE LENGTH(seg) >= 20
    ), firsts AS (
      SELECT md5(seg) AS h, MIN(doc_id * 1000000 + idx) AS first_enc
      FROM f GROUP BY md5(seg)
    ), flagged AS (
      SELECT f.doc_id, (f.doc_id * 1000000 + f.idx) <> fs.first_enc AS is_dup
      FROM f JOIN firsts fs ON md5(f.seg) = fs.h
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sents,
           CAST(COUNT(*) FILTER (WHERE is_dup) AS BIGINT) AS n_dup_removed
    FROM flagged GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_dedup_sentences_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global exact sentence-level dedup (the RefinedWeb / CCNet
    line-dedup pass, a different granularity from `text_dedup_span_c4`'s
    3-sentence spans): every '. '-delimited sentence of >= 20 chars is
    hashed corpus-wide; only its FIRST occurrence — smallest
    (doc_id, position), the deterministic survivor rule — is kept, and
    each document reports how many of its sentences a rewrite pass
    would drop. Boilerplate (cookie banners, nav text) concentrates
    exactly here.

    First-occurrence selection is a MIN over an integer (doc_id,
    position) encoding per hash — one partial-aggregatable groupBy on
    the sentence hash, no window, so a hash shared by millions of docs
    (the boilerplate hot key at 100 TB) still reduces map-side instead
    of sorting one giant partition. The per-doc rollup shuffles doc
    keys only."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    segs = (
        docs.select(
            "doc_id", F.posexplode(F.split(F.col("text"), "\\. ")).alias("pos", "seg")
        )
        .filter(F.length("seg") >= 20)
        .select(
            "doc_id",
            (F.col("doc_id") * 1000000 + F.col("pos") + 1).alias("enc"),
            F.md5(F.col("seg").cast("binary")).alias("h"),
        )
    )
    firsts = segs.groupBy("h").agg(F.min("enc").alias("first_enc"))
    return (
        segs.join(firsts, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sents"),
            F.count(F.when(F.col("enc") != F.col("first_enc"), 1))
            .cast("long")
            .alias("n_dup_removed"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_ngram_novelty",
    """
    WITH toks AS (
      SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
    ), grams AS (
      SELECT doc_id,
             unnest(list_distinct(
               [array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]
             )) AS g
      FROM toks WHERE len(w) >= 3
    ), df AS (
      SELECT g, COUNT(*) AS n_docs FROM grams GROUP BY g
    )
    SELECT gr.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(*) FILTER (WHERE df.n_docs = 1) AS BIGINT) AS n_unique,
           CAST(FLOOR(COUNT(*) FILTER (WHERE df.n_docs = 1) * 1000000
                      / COUNT(*)) AS BIGINT) AS novelty_ppm
    FROM grams gr JOIN df USING (g)
    GROUP BY gr.doc_id ORDER BY gr.doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty — the memorization/boilerplate lens on
    a corpus: the share of a document's distinct word trigrams that
    appear in NO other document (novelty_ppm → 1e6 means wholly original
    text; → 0 means the document is assembled from corpus-common
    phrasing — template/boilerplate mass the dedup passes may have
    missed because no single pair crosses their thresholds).

    Shape: distinct trigrams per doc (row-local zip_with slices, no
    explode of raw tokens), one partial-aggregatable groupBy on the gram
    key for document frequency, a join back on the gram key (both sides
    gram-partitioned — one shuffle each), and a per-doc rollup. The gram
    df frame is vocabulary-scale; nothing shuffles the corpus twice."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    from databricks_end_to_end_lakeflow_project_spark.operators.curation import (
        exploded_distinct_ngrams,
    )

    # r10: distinct-gram Arrow kernel (identical gram set, 2× the
    # interpreted zip_with chain; short docs emit no grams, which is
    # what the old ≥3-token filter enforced), persisted — the stream
    # feeds the df aggregate AND the join probe, so uncached it would
    # generate twice
    grams = persist_once(exploded_distinct_ngrams(docs, 3))
    df = grams.groupBy("g").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        grams.join(df, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.count(F.when(F.col("n_docs") == 1, 1)).cast("long").alias("n_unique"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_unique",
            F.floor(F.col("n_unique") * 1000000 / F.col("n_grams"))
            .cast("long")
            .alias("novelty_ppm"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_code_detection",
    """
    WITH feat AS (
      SELECT doc_id,
             LENGTH(text) AS n_chars,
             LENGTH(text) - LENGTH(regexp_replace(text, '[{};()=<>\\[\\]]', '', 'g'))
               AS n_symbols,
             len(regexp_extract_all(text,
               '\\b(def|return|import|class|void|int|function|var|const)\\b'))
               AS n_keywords,
             len(regexp_extract_all(text, '[a-z][A-Z]')) AS n_camel
      FROM documents WHERE LENGTH(text) > 0
    )
    SELECT doc_id, CAST(n_symbols AS BIGINT) AS n_symbols,
           CAST(n_keywords AS BIGINT) AS n_keywords,
           CAST(n_camel AS BIGINT) AS n_camel,
           CAST(FLOOR((n_symbols * 20 + n_keywords * 100 + n_camel * 50)
                      * 1000 / n_chars) AS BIGINT) AS code_score_x1000,
           (n_symbols * 20 + n_keywords * 100 + n_camel * 50) * 1000 / n_chars
             >= 15 AS looks_like_code
    FROM feat ORDER BY doc_id
    """,
)
def text_code_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose routing heuristic — the corpus splitter that sends
    source files to a code pipeline (different dedup granularity,
    different tokenizer, different quality rules) before text curation
    ever sees them: weighted density of code symbols ({};()=<>[]),
    language keywords, and camelCase transitions per character, as a
    FLOOR'd x1000 integer score with a routing flag. Heuristic
    front-end of the classifier cascade (cheap rule first, model only
    on the uncertain band).

    Shape: pure row-local regexp counting inside the scan — no shuffle
    at all except the final sort; all features and the score are
    integers, so the oracle is exact."""
    docs = read_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    n_chars = F.length("text")
    n_symbols = n_chars - F.length(F.regexp_replace("text", r"[{};()=<>\[\]]", ""))
    n_keywords = F.size(
        F.regexp_extract_all(
            F.col("text"),
            F.lit(r"\b(def|return|import|class|void|int|function|var|const)\b"),
            0,
        )
    )
    n_camel = F.size(F.regexp_extract_all(F.col("text"), F.lit("[a-z][A-Z]"), 0))
    raw = n_symbols * 20 + n_keywords * 100 + n_camel * 50
    return docs.select(
        "doc_id",
        n_symbols.cast("long").alias("n_symbols"),
        n_keywords.cast("long").alias("n_keywords"),
        n_camel.cast("long").alias("n_camel"),
        F.floor(raw * 1000 / n_chars).cast("long").alias("code_score_x1000"),
        (raw * 1000 / n_chars >= 15).alias("looks_like_code"),
    ).orderBy("doc_id")


@query(
    "text_sft_pair_prep",
    """
    WITH toks AS (
      SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
    ), pairs AS (
      SELECT doc_id,
             array_to_string(w[1:8], ' ') AS prompt,
             array_to_string(w[9:len(w)], ' ') AS completion,
             len(w) - 8 AS n_tok_completion
      FROM toks WHERE len(w) >= 18
    )
    SELECT doc_id, CAST(8 AS BIGINT) AS n_tok_prompt,
           CAST(n_tok_completion AS BIGINT) AS n_tok_completion,
           md5(prompt) AS prompt_md5, md5(completion) AS completion_md5
    FROM pairs ORDER BY doc_id
    """,
)
def text_sft_pair_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-completion pair construction — the continuation-training /
    FIM-style data-prep step that turns raw documents into (prompt,
    completion) pairs: the first 8 tokens become the prompt, the
    remainder the completion, gated by a minimum completion budget
    (>= 10 tokens — the degenerate-pair filter every pair pipeline
    applies; documents under 18 tokens drop). Both sides are
    checksummed so the oracle verifies CONTENT, not just counts; the
    real pipeline writes the same frame with the text columns kept.

    Shape: pure row-local array slicing inside the scan — no shuffle;
    the length gate is a pushable filter. At 100 TB this runs at I/O
    speed."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    w = F.split(F.trim(F.col("text")), " ")
    pairs = docs.select(
        "doc_id",
        F.concat_ws(" ", F.slice(w, 1, 8)).alias("prompt"),
        F.concat_ws(" ", F.slice(w, 9, F.size(w))).alias("completion"),
        (F.size(w) - 8).alias("n_tok_completion"),
    ).filter(F.size(w) >= 18)
    return pairs.select(
        "doc_id",
        F.lit(8).cast("long").alias("n_tok_prompt"),
        F.col("n_tok_completion").cast("long").alias("n_tok_completion"),
        F.md5(F.col("prompt").cast("binary")).alias("prompt_md5"),
        F.md5(F.col("completion").cast("binary")).alias("completion_md5"),
    ).orderBy("doc_id")


@query(
    "text_tokenizer_fertility_by_lang",
    f"""
    WITH f AS (
      SELECT lang, LENGTH(text) AS n_chars,
             len(regexp_extract_all(text, '{_BPE_ISH_SQL}')) AS n_bpe,
             len(string_split(trim(text), ' ')) AS n_ws
      FROM documents
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_bpe) AS BIGINT) AS n_bpe_tokens,
           CAST(FLOOR(SUM(n_chars) * 1000 / SUM(n_bpe)) AS BIGINT)
             AS chars_per_bpe_x1000,
           CAST(FLOOR(SUM(n_chars) * 1000 / SUM(n_ws)) AS BIGINT)
             AS chars_per_ws_x1000,
           CAST(FLOOR(SUM(n_bpe) * 1000 / SUM(n_ws)) AS BIGINT)
             AS fertility_x1000
    FROM f GROUP BY lang ORDER BY lang
    """,
)
def text_tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language — the tokenizer-selection metric
    (bpe tokens per word, x1000): a tokenizer that fragments one
    language into 2x the subwords of another silently halves that
    language's effective context window and doubles its training cost
    per word, which is why multilingual data cards report fertility per
    language. Chars-per-token alongside as the compression proxy.
    All-integer FLOOR'd cross-ratios on exact count sums.

    Shape: row-local regexp/split counting inside the scan, one
    #langs-key partial-aggregatable groupBy — one pass."""
    docs = read_table(spark, sf_dir, "documents").select("lang", "text")
    bpe = F.size(F.regexp_extract_all("text", F.lit(_BPE_ISH), F.lit(0)))
    f = docs.select(
        "lang",
        F.length("text").alias("n_chars"),
        bpe.alias("n_bpe"),
        F.size(F.split(F.trim(F.col("text")), " ")).alias("n_ws"),
    )
    return (
        f.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_bpe").cast("long").alias("n_bpe_tokens"),
            F.floor(F.sum("n_chars") * 1000 / F.sum("n_bpe"))
            .cast("long")
            .alias("chars_per_bpe_x1000"),
            F.floor(F.sum("n_chars") * 1000 / F.sum("n_ws"))
            .cast("long")
            .alias("chars_per_ws_x1000"),
            F.floor(F.sum("n_bpe") * 1000 / F.sum("n_ws"))
            .cast("long")
            .alias("fertility_x1000"),
        )
        .orderBy("lang")
    )


@query(
    "text_bpe_top_merges",
    """
    WITH wf AS (
      SELECT w AS word, COUNT(*) AS cnt
      FROM (SELECT unnest(string_split(trim(text), ' ')) AS w FROM documents)
      WHERE LENGTH(w) >= 2 GROUP BY w
    ),
    pairs AS (
      SELECT substr(word, CAST(i AS INT), 2) AS pair, cnt
      FROM (
        SELECT word, cnt,
               unnest(generate_series(1, LENGTH(word) - 1)) AS i
        FROM wf
      )
    )
    SELECT pair, SUM(cnt) AS pair_count
    FROM pairs GROUP BY pair
    ORDER BY pair_count DESC, pair LIMIT 20
    """,
)
def text_bpe_top_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, step 1: corpus-wide adjacent-symbol-pair
    frequencies over the word-frequency table, top-20 merge candidates —
    the aggregate a byte-pair-encoding trainer runs once per merge round.
    Symbols here are characters (round 0); the chosen pair would become a
    new symbol and the count repeats.

    Plan shape is the one that matters at 100 TB: the corpus collapses to
    a WORD-FREQUENCY table first (one shuffle, output bounded by
    vocabulary not corpus size), and every subsequent merge round scans
    only that table — pairs explode per DISTINCT word (len−1 rows, ≤~20
    each), weighted by the precomputed counts. A full trainer is a driver
    loop of these aggregates over the (small, persisted) word table;
    round 0 is registered since later rounds repeat the identical plan
    with re-segmented symbol arrays.
    """
    docs = read_table(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(F.split(F.trim("text"), " ")).alias("word"))
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pairs = wf.select(
        F.explode(F.sequence(F.lit(1), F.length("word") - 1)).alias("i"),
        "word",
        "cnt",
    ).select(F.substring("word", F.col("i"), F.lit(2)).alias("pair"), "cnt")
    return (
        pairs.groupBy("pair")
        .agg(F.sum("cnt").alias("pair_count"))
        .orderBy(F.desc("pair_count"), "pair")
        .limit(20)
    )


@query(
    "text_span_corruption_pairs",
    """
    WITH toks AS (
      SELECT doc_id, t.tok, t.pos
      FROM (
        SELECT doc_id,
               unnest(string_split(trim(text), ' ')) AS tok,
               unnest(generate_series(1, LENGTH(string_split(trim(text), ' '))))
                 AS pos
        FROM documents
      ) t(doc_id, tok, pos) WHERE doc_id % 10 = 0
    ),
    flags AS (
      SELECT doc_id, tok, pos,
             ((doc_id * 31 + pos) % 7) = 0 AS m,
             COALESCE(((doc_id * 31 + pos - 1) % 7) = 0 AND pos > 1, FALSE)
               AS prev_m
      FROM toks
    ),
    spans AS (
      SELECT doc_id, tok, pos, m,
             (m AND NOT prev_m) AS is_start,
             SUM(CASE WHEN m AND NOT prev_m THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
      FROM flags
    )
    SELECT doc_id,
           COALESCE(string_agg(
             CASE WHEN NOT m THEN tok
                  WHEN is_start THEN '<extra_id_' || span_id || '>' END,
             ' ' ORDER BY pos)
             FILTER (WHERE NOT m OR is_start), '') AS input_text,
           COALESCE(string_agg(
             CASE WHEN is_start THEN '<extra_id_' || span_id || '> ' || tok
                  ELSE tok END, ' ' ORDER BY pos)
             FILTER (WHERE m), '') AS target_text,
           COALESCE(SUM(CASE WHEN is_start THEN 1 ELSE 0 END), 0) AS n_spans,
           COALESCE(SUM(CASE WHEN m THEN 1 ELSE 0 END), 0) AS n_masked
    FROM spans GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_span_corruption_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption training pairs: ~1/7 of each document's
    token positions are masked by a deterministic key-derived rule,
    adjacent masked tokens merge into spans (gaps-and-islands), each span
    is replaced by a sentinel in the INPUT and emitted after its sentinel
    in the TARGET — the denoising-objective construction, on a 1-in-10
    doc sample. (Production swaps the position rule for a seeded RNG;
    the plan is rule-independent.)

    Plan: explode to (doc, pos, token), one window partitioned BY DOC
    (span ids are per-doc running sums of span starts — state never
    crosses documents), then one groupBy(doc) with order-pinned
    string_agg. At 100 TB: a single shuffle on doc_id; every stage after
    it is partition-local.
    """
    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    toks = docs.select(
        "doc_id", F.posexplode(F.split(F.trim("text"), " ")).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    m = (F.col("doc_id") * 31 + F.col("pos")) % 7 == 0
    prev_m = F.when(
        F.col("pos") > 1, ((F.col("doc_id") * 31 + F.col("pos") - 1) % 7) == 0
    ).otherwise(F.lit(False))
    flagged = toks.select("doc_id", "tok", "pos", m.alias("m"), prev_m.alias("prev_m"))
    is_start = F.col("m") & ~F.col("prev_m")
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    spans = flagged.select(
        "doc_id",
        "tok",
        "pos",
        "m",
        is_start.alias("is_start"),
        F.sum(F.when(is_start, 1).otherwise(0)).over(w).alias("span_id"),
    )
    in_piece = F.when(~F.col("m"), F.col("tok")).when(
        F.col("is_start"),
        F.concat(
            F.lit("<extra_id_"), F.col("span_id").cast("string"), F.lit(">")
        ),
    )
    tgt_piece = F.when(
        F.col("is_start"),
        F.concat(
            F.lit("<extra_id_"),
            F.col("span_id").cast("string"),
            F.lit("> "),
            F.col("tok"),
        ),
    ).when(F.col("m"), F.col("tok"))
    ordered = F.array_sort(
        F.collect_list(F.struct("pos", in_piece.alias("p")))
    )
    ordered_t = F.array_sort(
        F.collect_list(F.struct("pos", tgt_piece.alias("p")))
    )
    join_pieces = lambda arr: F.array_join(  # noqa: E731
        F.filter(F.transform(arr, lambda s: s["p"]), lambda x: x.isNotNull()), " "
    )
    return (
        spans.groupBy("doc_id")
        .agg(
            join_pieces(ordered).alias("input_text"),
            join_pieces(ordered_t).alias("target_text"),
            F.sum(F.when(F.col("is_start"), 1).otherwise(0)).alias("n_spans"),
            F.sum(F.when(F.col("m"), 1).otherwise(0)).alias("n_masked"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_bpe_apply_merge_round2",
    """
    WITH wf AS (
      SELECT w AS word, COUNT(*) AS cnt
      FROM (SELECT unnest(string_split(trim(text), ' ')) AS w FROM documents)
      WHERE LENGTH(w) >= 2 GROUP BY w
    ),
    r1 AS (
      SELECT substr(word, CAST(i AS INT), 2) AS pair, SUM(cnt) AS c
      FROM (SELECT word, cnt,
                   unnest(generate_series(1, LENGTH(word) - 1)) AS i
            FROM wf)
      GROUP BY pair ORDER BY c DESC, pair LIMIT 1
    ),
    seg AS (
      SELECT wf.cnt,
             list_reduce(
               list_transform(regexp_extract_all(wf.word, '.'), ch -> [ch]),
               (acc, x) -> CASE
                 WHEN len(acc) > 0
                      AND acc[-1] = substr(r1.pair, 1, 1)
                      AND x[1] = substr(r1.pair, 2, 1)
                 THEN list_append(list_slice(acc, 1, len(acc) - 1), r1.pair)
                 ELSE list_concat(acc, x) END) AS syms
      FROM wf CROSS JOIN r1
    ),
    pairs2 AS (
      SELECT syms[CAST(i AS INT)] || syms[CAST(i AS INT) + 1] AS pair,
             cnt
      FROM (SELECT cnt, syms, unnest(generate_series(1, len(syms) - 1)) AS i
            FROM seg)
    )
    SELECT pair, SUM(cnt) AS pair_count
    FROM pairs2 GROUP BY pair
    ORDER BY pair_count DESC, pair LIMIT 10
    """,
)
def text_bpe_apply_merge_round2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, round 2 — proves the trainer LOOP, not
    just one count: take round 1's winning pair, re-segment every word by
    the greedy left-to-right merge (the fold a real BPE trainer applies),
    then recount adjacent SYMBOL pairs (symbols are now multi-char) and
    report the next 10 merge candidates.

    The re-segmentation is an order-pinned array fold (chars → symbol
    list, merging where the previous symbol + current char equal the
    winning pair) — both engines run the identical fold, and merged
    symbols never cascade incorrectly because the merged token compares
    as a whole symbol, not its suffix.

    Scale: identical to round 1 — everything after the word-frequency
    aggregate is per-DISTINCT-word array work weighted by precomputed
    counts, and the winning pair rides along as a 1-row broadcast. A
    full trainer iterates exactly this plan with the symbol arrays kept
    materialized between rounds.
    """
    docs = read_table(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(F.split(F.trim("text"), " ")).alias("word"))
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    r1 = (
        wf.select(
            F.explode(F.sequence(F.lit(1), F.length("word") - 1)).alias("i"),
            "word",
            "cnt",
        )
        .select(F.substring("word", F.col("i"), F.lit(2)).alias("pair"), "cnt")
        .groupBy("pair")
        .agg(F.sum("cnt").alias("c"))
        .orderBy(F.desc("c"), "pair")
        .limit(1)
        .select("pair")
    )
    seg = wf.crossJoin(F.broadcast(r1)).select(
        "cnt",
        F.expr(
            """
            aggregate(
              transform(regexp_extract_all(word, '.', 0), ch -> array(ch)),
              CAST(array() AS array<string>),
              (acc, x) -> CASE
                WHEN size(acc) > 0
                     AND element_at(acc, -1) = substr(pair, 1, 1)
                     AND element_at(x, 1) = substr(pair, 2, 1)
                THEN concat(slice(acc, 1, size(acc) - 1), array(pair))
                ELSE concat(acc, x) END)
            """
        ).alias("syms"),
    )
    pairs2 = seg.select(
        "cnt",
        # asc_seq: a word merged to ONE symbol (word == top pair) has
        # size(syms)=1; raw sequence(1,0) descends into element_at(syms,0).
        F.explode(asc_seq(F.lit(1), F.size("syms") - 1)).alias("i"),
        "syms",
    ).select(
        F.concat(
            F.element_at("syms", F.col("i")),
            F.element_at("syms", F.col("i") + 1),
        ).alias("pair"),
        "cnt",
    )
    return (
        pairs2.groupBy("pair")
        .agg(F.sum("cnt").alias("pair_count"))
        .orderBy(F.desc("pair_count"), "pair")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# round-6 addition (session 2): PMI collocation mining
# ---------------------------------------------------------------------------

_PMI_MIN_COUNT = 25  # bigrams below this are too noisy for a stable PMI
_PMI_TOP = 30


@query(
    "text_pmi_collocations",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
    ),
    uni AS (
      SELECT u.tok, COUNT(*) AS c_w
      FROM toks, UNNEST(w) AS u(tok) GROUP BY u.tok
    ),
    nu AS (SELECT SUM(c_w) AS n_u FROM uni),
    bi AS (
      SELECT b.bg, COUNT(*) AS c_ab
      FROM (
        SELECT [array_to_string(w[i:i+1], ' ') for i in range(1, len(w))] AS bgs
        FROM toks WHERE len(w) >= 2
      ), UNNEST(bgs) AS b(bg)
      GROUP BY b.bg
    ),
    nb AS (SELECT SUM(c_ab) AS n_b FROM bi),
    scored AS (
      SELECT bg AS bigram, c_ab,
             ROUND(LN((c_ab::DOUBLE / nb.n_b)
                      / ((ua.c_w::DOUBLE / nu.n_u)
                         * (ub.c_w::DOUBLE / nu.n_u))), 4) AS pmi
      FROM bi, nu, nb
      JOIN uni ua ON ua.tok = string_split(bg, ' ')[1]
      JOIN uni ub ON ub.tok = string_split(bg, ' ')[2]
      WHERE c_ab >= {_PMI_MIN_COUNT}
    )
    SELECT bigram, c_ab, pmi FROM scored
    ORDER BY pmi DESC, bigram LIMIT {_PMI_TOP}
    """,
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by pointwise mutual information — the corpus-
    statistics primitive under phrase vocabularies and tokenizer merge
    seeding: PMI(a,b) = ln( p(ab) / (p(a)·p(b)) ) over adjacent word
    pairs, min-count {_PMI_MIN_COUNT}, top {_PMI_TOP}.

    Plan shape: one token explode → unigram counts (map-side
    combinable), one in-array bigram construction via `transform` (no
    Python, no second scan of exploded tokens) → bigram counts; the two
    totals are scalar cursors (driver collect of a 1-row agg — the
    engine's documented pattern); unigram counts re-join the surviving
    (≥ min-count) bigrams twice, both sides broadcast-size after
    pruning. At 100 TB the unigram table is the post-prune vocabulary,
    MBs not TBs — the joins never shuffle the corpus.

    Exactness: counts are integers; the PMI double division + LN is the
    same IEEE sequence in both engines (the `text_*_nll` protocol),
    rounded to 4 decimals and used as the sort key in rounded form.
    """
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(F.split(F.trim(F.col("text")), " ").alias("w"))
    uni = (
        toks.select(F.explode("w").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c_w"))
    )
    bi = (
        toks.filter(F.size("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1),"
                    " i -> concat(w[i - 1], ' ', w[i]))"
                )
            ).alias("bg")
        )
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    n_u = uni.agg(F.sum("c_w")).collect()[0][0]
    n_b = bi.agg(F.sum("c_ab")).collect()[0][0]
    pruned = bi.filter(F.col("c_ab") >= _PMI_MIN_COUNT).select(
        F.col("bg").alias("bigram"),
        "c_ab",
        F.split(F.col("bg"), " ")[0].alias("ta"),
        F.split(F.col("bg"), " ")[1].alias("tb"),
    )
    ua = uni.select(F.col("tok").alias("ta"), F.col("c_w").alias("ca"))
    ub = uni.select(F.col("tok").alias("tb"), F.col("c_w").alias("cb"))
    pmi = F.round(
        F.log(
            (F.col("c_ab").cast("double") / F.lit(float(n_b)))
            / (
                (F.col("ca").cast("double") / F.lit(float(n_u)))
                * (F.col("cb").cast("double") / F.lit(float(n_u)))
            )
        ),
        4,
    )
    return (
        pruned.join(F.broadcast(ua), "ta")
        .join(F.broadcast(ub), "tb")
        .select("bigram", "c_ab", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "bigram")
        .limit(_PMI_TOP)
    )


# ---------------------------------------------------------------------------
# round-6 addition (session 2): RAKE keyword extraction
# ---------------------------------------------------------------------------

_RAKE_STOPWORDS = ("a", "the")  # the corpus's function words
_RAKE_TOP = 20


@query(
    "text_rake_keywords",
    f"""
    WITH toks AS (
      SELECT doc_id, w[pos] AS word, pos,
             CASE WHEN w[pos] IN {_RAKE_STOPWORDS} THEN 1 ELSE 0 END AS stop
      FROM (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
           UNNEST(range(1, len(w) + 1)) AS u(pos)
    ),
    marked AS (
      SELECT doc_id, word, pos, stop,
             SUM(stop) OVER (PARTITION BY doc_id ORDER BY pos) AS phrase_id
      FROM toks
    ),
    content AS (
      SELECT doc_id, phrase_id, pos, word FROM marked WHERE stop = 0
    ),
    plen AS (
      SELECT doc_id, phrase_id, COUNT(*) AS plen
      FROM content GROUP BY doc_id, phrase_id
    ),
    wstat AS (
      SELECT c.word, COUNT(*) AS freq, SUM(p.plen) AS deg
      FROM content c JOIN plen p
        ON p.doc_id = c.doc_id AND p.phrase_id = c.phrase_id
      GROUP BY c.word
    ),
    wscore AS (
      SELECT word,
             CAST(ROUND(1000000.0 * deg / freq) AS BIGINT) AS sq
      FROM wstat
    ),
    phrases AS (
      SELECT c.doc_id, c.phrase_id,
             STRING_AGG(c.word, ' ' ORDER BY c.pos) AS phrase,
             SUM(s.sq) AS score_x1e6
      FROM content c JOIN wscore s ON s.word = c.word
      GROUP BY c.doc_id, c.phrase_id
    )
    SELECT phrase, COUNT(*) AS n_occurrences,
           MAX(score_x1e6) AS score_x1e6
    FROM phrases GROUP BY phrase
    ORDER BY score_x1e6 DESC, phrase LIMIT {_RAKE_TOP}
    """,
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) — unsupervised
    keyphrase mining for corpus labeling / topic seeding: split each
    document into candidate phrases at stopword boundaries, score each
    word by degree/frequency (degree = summed length of the phrases it
    appears in — co-occurrence reach; frequency = raw count), score a
    phrase as the sum of its word scores, report the top
    {_RAKE_TOP} distinct phrases.

    Exactness: word scores are quantized to 1e-6 fixed-point BEFORE the
    per-phrase sum (deg/freq is one IEEE division, identical in both
    engines; integer sums are order-free), so phrase scores are exact
    longs. Identical phrase strings always carry identical scores, so
    the distinct-phrase MAX is deterministic.

    Scale shape: phrase segmentation is ONE partitioned running-sum
    window per document (no self-join); word stats are two grouped
    aggregates; the word-score table is post-aggregation vocabulary —
    broadcast-size — and rejoins the phrase rows on the word key.
    """
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.col("text")), " ")).alias("pos0", "word"),
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        "word",
        F.when(F.col("word").isin(*_RAKE_STOPWORDS), 1).otherwise(0).alias("stop"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    content = (
        toks.withColumn("phrase_id", F.sum("stop").over(w))
        .filter(F.col("stop") == 0)
        .select("doc_id", "phrase_id", "pos", "word")
    )
    plen = content.groupBy("doc_id", "phrase_id").agg(
        F.count(F.lit(1)).alias("plen")
    )
    wstat = (
        content.join(plen, ["doc_id", "phrase_id"])
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"), F.sum("plen").alias("deg"))
    )
    wscore = wstat.select(
        "word",
        F.round(1000000.0 * F.col("deg") / F.col("freq")).cast("long").alias("sq"),
    )
    phrases = (
        content.join(F.broadcast(wscore), "word")
        .groupBy("doc_id", "phrase_id")
        .agg(
            F.array_join(
                F.expr("transform(sort_array(collect_list(struct(pos, word))),"
                       " x -> x.word)"),
                " ",
            ).alias("phrase"),
            F.sum("sq").alias("score_x1e6"),
        )
    )
    return (
        phrases.groupBy("phrase")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.max("score_x1e6").alias("score_x1e6"),
        )
        .orderBy(F.desc("score_x1e6"), "phrase")
        .limit(_RAKE_TOP)
    )


@query(
    "text_vocab_coverage_chao1",
    """
    WITH tf AS (
      SELECT lang, u.tok, COUNT(*) AS c
      FROM (SELECT lang, string_split(trim(text), ' ') AS w FROM documents),
           UNNEST(w) AS u(tok)
      GROUP BY lang, u.tok
    )
    SELECT lang,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           COUNT(*) AS vocab,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS singletons,
           CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS doubletons,
           ROUND(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)::DOUBLE / SUM(c), 6)
             AS gt_unseen_mass,
           ROUND(COUNT(*)
                 + SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)::DOUBLE
                   * (SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) - 1)
                   / (2 * (SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) + 1)), 4)
             AS chao1_richness
    FROM tf GROUP BY lang ORDER BY lang
    """,
)
def text_vocab_coverage_chao1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage estimators per language — 'how much of this
    language's vocabulary has the corpus NOT seen yet', the question
    behind crawl-more-or-stop decisions and tokenizer-vocab sizing:
    Good-Turing unseen mass P(next token is novel) ≈ N₁/N, and the
    bias-corrected Chao1 richness floor V + N₁(N₁−1)/(2(N₂+1)) from
    singleton/doubleton counts.

    Exactness: all inputs are integer type-frequency counts; each output
    is one rational evaluated with a fixed operation tree, rounded 6/4.
    Scale: one token explode → (lang, token) groupBy, then a per-lang
    rollup over the TYPE table (vocabulary-sized, not corpus-sized).
    """
    docs = read_table(spark, sf_dir, "documents")
    tf = (
        docs.select("lang", F.explode(F.split(F.trim(F.col("text")), " ")).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n1 = F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
    n2 = F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
    return (
        tf.groupBy("lang")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("vocab"),
            n1.alias("singletons"),
            n2.alias("doubletons"),
            F.round(n1.cast("double") / F.sum("c"), 6).alias("gt_unseen_mass"),
            F.round(
                F.count(F.lit(1))
                + n1.cast("double") * (n1 - 1) / (2 * (n2 + 1)),
                4,
            ).alias("chao1_richness"),
        )
        .orderBy("lang")
    )


@query(
    "text_collocation_llr",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
    ),
    bi AS (
      SELECT b.bg, COUNT(*) AS c_ab
      FROM (
        SELECT [array_to_string(w[i:i+1], ' ') for i in range(1, len(w))] AS bgs
        FROM toks WHERE len(w) >= 2
      ), UNNEST(bgs) AS b(bg)
      GROUP BY b.bg
    ),
    firsts AS (
      SELECT string_split(bg, ' ')[1] AS ta, SUM(c_ab) AS ra FROM bi GROUP BY 1
    ),
    seconds AS (
      SELECT string_split(bg, ' ')[2] AS tb, SUM(c_ab) AS cb FROM bi GROUP BY 1
    ),
    nn AS (SELECT SUM(c_ab)::DOUBLE AS n FROM bi),
    cells AS (
      SELECT bg, c_ab::DOUBLE AS k11,
             (f.ra - c_ab)::DOUBLE AS k12,
             (s.cb - c_ab)::DOUBLE AS k21,
             (nn.n - f.ra - s.cb + c_ab) AS k22,
             f.ra::DOUBLE AS ra, s.cb::DOUBLE AS cb, nn.n AS n
      FROM bi
      JOIN firsts f ON f.ta = string_split(bg, ' ')[1]
      JOIN seconds s ON s.tb = string_split(bg, ' ')[2]
      CROSS JOIN nn
      WHERE c_ab >= {_PMI_MIN_COUNT}
    )
    SELECT bg AS bigram, CAST(k11 AS BIGINT) AS c_ab,
           ROUND(2 * (
             (CASE WHEN k11 > 0 THEN k11 * LN(k11 * n / (ra * cb)) ELSE 0 END)
             + (CASE WHEN k12 > 0 THEN k12 * LN(k12 * n / (ra * (n - cb))) ELSE 0 END)
             + (CASE WHEN k21 > 0 THEN k21 * LN(k21 * n / ((n - ra) * cb)) ELSE 0 END)
             + (CASE WHEN k22 > 0 THEN k22 * LN(k22 * n / ((n - ra) * (n - cb))) ELSE 0 END)
           ), 4) AS llr
    FROM cells
    ORDER BY llr DESC, bigram LIMIT {_PMI_TOP}
    """,
)
def text_collocation_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunning log-likelihood-ratio collocations (Dunning 1993) — the
    statistically calibrated companion to [[text_pmi_collocations]]: PMI
    over-rewards rare pairs; the G² test scores the full 2×2 contingency
    (bigram present/absent × first/second word), so high-count true
    collocations dominate. Same min-count and top-{_PMI_TOP} contract as
    the PMI query for side-by-side reading.

    Exactness: all four cell counts and both margins are integers from
    ONE bigram aggregate (the margins are rollups of the bigram table,
    not new corpus scans); each G² term is a fixed k·LN(k·N/(row·col))
    tree summed in written order, rounded 4.

    Scale: corpus touched once (the bigram explode); margins and the
    scored join all live on the post-prune vocabulary — broadcast-size.
    """
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(F.split(F.trim(F.col("text")), " ").alias("w"))
    bi = (
        toks.filter(F.size("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1),"
                    " i -> concat(w[i - 1], ' ', w[i]))"
                )
            ).alias("bg")
        )
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    bi = bi.select(
        "bg", "c_ab",
        F.split("bg", " ")[0].alias("ta"),
        F.split("bg", " ")[1].alias("tb"),
    )
    from databricks_end_to_end_lakeflow_project_spark.session import persist_once

    bi = persist_once(bi)  # margins + scored join all read the bigram table
    firsts = bi.groupBy("ta").agg(F.sum("c_ab").alias("ra"))
    seconds = bi.groupBy("tb").agg(F.sum("c_ab").alias("cb"))
    n = float(bi.agg(F.sum("c_ab")).collect()[0][0])
    cells = (
        bi.filter(F.col("c_ab") >= _PMI_MIN_COUNT)
        .join(F.broadcast(firsts), "ta")
        .join(F.broadcast(seconds), "tb")
        .select(
            "bg",
            F.col("c_ab").cast("double").alias("k11"),
            (F.col("ra") - F.col("c_ab")).cast("double").alias("k12"),
            (F.col("cb") - F.col("c_ab")).cast("double").alias("k21"),
            (F.lit(n) - F.col("ra") - F.col("cb") + F.col("c_ab")).alias("k22"),
            F.col("ra").cast("double").alias("ra"),
            F.col("cb").cast("double").alias("cb"),
        )
    )
    N = F.lit(n)

    def term(k, row, col):
        return F.when(k > 0, k * F.log(k * N / (row * col))).otherwise(F.lit(0.0))

    llr = F.round(
        2
        * (
            term(F.col("k11"), F.col("ra"), F.col("cb"))
            + term(F.col("k12"), F.col("ra"), N - F.col("cb"))
            + term(F.col("k21"), N - F.col("ra"), F.col("cb"))
            + term(F.col("k22"), N - F.col("ra"), N - F.col("cb"))
        ),
        4,
    )
    out = cells.select(
        F.col("bg").alias("bigram"),
        F.col("k11").cast("long").alias("c_ab"),
        llr.alias("llr"),
    ).orderBy(F.desc("llr"), "bigram").limit(_PMI_TOP)
    return out


# ---------------------------------------------------------------------------
# round-7 additions: term burstiness, lexical richness, held-out backoff
# LM scoring, and the shingle-size design sweep
# ---------------------------------------------------------------------------


@query(
    "text_burstiness_topterms",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token
      FROM documents
    ),
    nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tok),
    per_doc AS (
      SELECT token, doc_id, COUNT(*) AS c FROM tok GROUP BY token, doc_id
    ),
    term AS (
      SELECT token,
             SUM(c) AS total,
             COUNT(*) AS df,
             SUM(c * c) AS s2,
             COUNT(*) FILTER (WHERE c >= 2) AS df2
      FROM per_doc GROUP BY token
    )
    SELECT token, total, df,
           ROUND(((s2 - total / (1.0 * n_docs) * total) / (n_docs - 1.0))
                 / (total / (1.0 * n_docs)), 4) AS vmr_burstiness,
           ROUND(df2 / (1.0 * df), 4) AS adaptation
    FROM term, nd
    ORDER BY total DESC, token LIMIT 20
    """,
)
def text_burstiness_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness (Church & Gale): for the 20 highest-mass terms,
    the variance-to-mean ratio of per-document counts INCLUDING zero
    docs (VMR 1 = Poisson scatter; ≫1 = the term clumps into few docs)
    plus the adaptation probability P(c≥2 | c≥1) — the two numbers that
    separate topical words from function words, and the feature
    [[text_tfidf_keywords]]' idf cannot see (idf ignores within-doc
    clumping).

    Exactness: per-(term, doc) counts, their squares, doc frequencies
    and the doc total are exact integers from two groupBys; VMR folds in
    the zero-docs analytically ((Σc² − N·μ²)/(N−1) with μ = total/N), so
    no zero-row materialization; one division chain per term, rounded 4.
    Plan: tokenize → (term, doc) groupBy → term groupBy — all map-side
    combinable; the 1-row doc-count frame rides a broadcast join.
    """
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    nd = tok.agg(F.countDistinct("doc_id").alias("n_docs"))
    per_doc = tok.groupBy("token", "doc_id").agg(F.count(F.lit(1)).alias("c"))
    term = per_doc.groupBy("token").agg(
        F.sum("c").alias("total"),
        F.count(F.lit(1)).alias("df"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
        F.sum(F.when(F.col("c") >= 2, 1).otherwise(0)).alias("df2"),
    )
    n = F.col("n_docs") * 1.0
    mu = F.col("total") / n
    vmr = ((F.col("s2") - mu * F.col("total")) / (F.col("n_docs") - 1.0)) / mu
    return (
        term.crossJoin(F.broadcast(nd))
        .select(
            "token", "total", "df",
            F.round(vmr, 4).alias("vmr_burstiness"),
            F.round(F.col("df2") / (1.0 * F.col("df")), 4).alias("adaptation"),
        )
        .orderBy(F.desc("total"), "token")
        .limit(20)
    )


@query(
    "text_ttr_lexical_richness",
    """
    WITH tok AS (
      SELECT source, unnest(string_split(trim(text), ' ')) AS token
      FROM documents
    ),
    tt AS (
      SELECT source, token, COUNT(*) AS c FROM tok GROUP BY source, token
    )
    SELECT source,
           SUM(c) AS n_tokens,
           COUNT(*) AS n_types,
           COUNT(*) FILTER (WHERE c = 1) AS n_hapax,
           ROUND(COUNT(*) / (1.0 * SUM(c)), 6) AS ttr,
           ROUND(LN(COUNT(*)) / LN(SUM(c)), 6) AS herdan_c,
           ROUND(COUNT(*) FILTER (WHERE c = 1) / (1.0 * COUNT(*)), 6)
             AS hapax_ratio
    FROM tt GROUP BY source ORDER BY source
    """,
)
def text_ttr_lexical_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical richness per source: type-token ratio, Herdan's C
    (log-log TTR, the size-robust variant), and the hapax-legomenon
    ratio — the vocabulary-health dashboard for corpus curation
    (template farms show low TTR and near-zero hapax; scraped spam shows
    the opposite). [[text_vocab_coverage_chao1]] extrapolates the unseen
    vocabulary; this profiles the observed one.

    Exactness: all inputs are exact integers from one (source, token)
    groupBy; each metric is one expression per source row, rounded 6.
    Plan: tokenize → one map-side-combinable groupBy → |sources|-row
    aggregate.
    """
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(tokens(F.col("text"))).alias("token"))
    tt = tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("c"))
    return (
        tt.groupBy("source")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("n_hapax"),
            F.round(F.count(F.lit(1)) / (1.0 * F.sum("c")), 6).alias("ttr"),
            F.round(F.log(F.count(F.lit(1))) / F.log(F.sum("c")), 6).alias(
                "herdan_c"
            ),
            F.round(
                F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
                / (1.0 * F.count(F.lit(1))),
                6,
            ).alias("hapax_ratio"),
        )
        .orderBy("source")
    )


@query(
    "text_backoff_lm_heldout_nll",
    """
    WITH tok AS (
      SELECT doc_id, unnest(ws) AS token, generate_subscripts(ws, 1) AS pos
      FROM (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents)
    ),
    train AS (SELECT * FROM tok WHERE doc_id % 10 <> 0),
    test AS (SELECT * FROM tok WHERE doc_id % 10 = 0),
    tot AS (SELECT COUNT(*) AS n FROM train),
    uni AS (
      SELECT token, COUNT(*)::DOUBLE / (SELECT n FROM tot) AS pu
      FROM train GROUP BY token
    ),
    tbig AS (
      SELECT token AS w2,
             lag(token) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
      FROM train
    ),
    bc AS (
      SELECT w1, w2, COUNT(*) AS c12 FROM tbig WHERE w1 IS NOT NULL
      GROUP BY w1, w2
    ),
    cc AS (SELECT w1, SUM(c12) AS c1 FROM bc GROUP BY w1),
    ebig AS (
      SELECT doc_id, token AS w2,
             lag(token) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
      FROM test
    ),
    scored AS (
      SELECT e.doc_id,
             CASE WHEN bc.c12 IS NOT NULL THEN bc.c12 / (1.0 * cc.c1)
                  ELSE 0.4 * COALESCE(uni.pu, 0.000001) END AS s
      FROM ebig e
      LEFT JOIN bc ON bc.w1 = e.w1 AND bc.w2 = e.w2
      LEFT JOIN cc ON cc.w1 = e.w1
      LEFT JOIN uni ON uni.token = e.w2
      WHERE e.w1 IS NOT NULL
    )
    SELECT doc_id, COUNT(*) AS n_bigrams,
           ROUND(-AVG(ln(s)), 4) AS backoff_nll
    FROM scored GROUP BY doc_id
    ORDER BY backoff_nll DESC, doc_id LIMIT 20
    """,
)
def text_backoff_lm_heldout_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff bigram LM (Brants et al. 2007) with a REAL
    held-out split: train on doc_id % 10 ≠ 0, score the held-out tenth
    with p = c₁₂/c₁ if the bigram was seen, else 0.4·p_uni(w₂) (OOV
    floor 1e-6) — per-doc mean NLL, worst 20 docs. Where
    [[text_bigram_nll]] interpolates and scores in-sample (a quality
    heuristic), this is the eval-protocol form: held-out perplexity,
    the number LM-data ablations actually compare.

    Plan: bigrams from one windowed lag per side; the vocabulary-sized
    unigram/context tables broadcast; the bigram table joins LEFT so
    unseen bigrams fall through to backoff (no inner-join row loss —
    the exact mistake a naive port makes). Per-doc agg partial-combines
    on doc_id; the double NLL fold is per-doc over ≤doc-length terms,
    rounded 4 (the float-fold tolerance protocol).
    """
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "token")
    )
    train = tok.filter(F.col("doc_id") % 10 != 0)
    test = tok.filter(F.col("doc_id") % 10 == 0)
    total = train.count()
    uni = train.groupBy("token").agg(
        (F.count("*").cast("double") / F.lit(float(total))).alias("pu")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    tbig = train.select(
        F.col("token").alias("w2"), F.lag("token").over(w).alias("w1")
    ).filter(F.col("w1").isNotNull())
    bc = tbig.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    cc = bc.groupBy("w1").agg(F.sum("c12").alias("c1"))
    ebig = test.select(
        "doc_id", F.col("token").alias("w2"), F.lag("token").over(w).alias("w1")
    ).filter(F.col("w1").isNotNull())
    scored = (
        ebig.join(bc, ["w1", "w2"], "left")
        .join(F.broadcast(cc), "w1", "left")
        .join(
            F.broadcast(uni.select(F.col("token").alias("w2"), "pu")), "w2", "left"
        )
        .select(
            "doc_id",
            F.when(
                F.col("c12").isNotNull(), F.col("c12") / (1.0 * F.col("c1"))
            )
            .otherwise(0.4 * F.coalesce(F.col("pu"), F.lit(0.000001)))
            .alias("s"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(-F.avg(F.log("s")), 4).alias("backoff_nll"),
        )
        .orderBy(F.desc("backoff_nll"), "doc_id")
        .limit(20)
    )


@query(
    "text_shingle_size_sweep",
    """
    WITH tok AS (
      SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents
    ),
    sh AS (
      SELECT k.k, t.doc_id,
             array_to_string(ws[i : i + k.k - 1], ' ') AS shingle
      FROM tok t
      CROSS JOIN (SELECT UNNEST([2, 3, 4]) AS k) k
      CROSS JOIN LATERAL UNNEST(range(1, len(ws) - k.k + 2)) AS u(i)
    ),
    per AS (
      SELECT k, shingle, COUNT(*) AS c FROM sh GROUP BY k, shingle
    )
    SELECT k AS shingle_len,
           SUM(c) AS total_shingles,
           COUNT(*) AS distinct_shingles,
           ROUND((SUM(c) - COUNT(*)) / (1.0 * SUM(c)), 6) AS dup_mass,
           ROUND(COUNT(*) FILTER (WHERE c = 1) / (1.0 * COUNT(*)), 6)
             AS unique_ratio
    FROM per GROUP BY k ORDER BY k
    """,
)
def text_shingle_size_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-length design sweep for near-dup detection: at k = 2, 3,
    4 word-shingles, the corpus-wide duplicate mass (1 − distinct/total)
    and the fraction of shingles seen exactly once — the two curves that
    pick MinHash's shingle size ([[dedup_minhash_lsh_pairs]] fixes k;
    this is the experiment that justifies it: too-small k saturates
    dup_mass on common phrases, too-large k sends unique_ratio → 1 and
    kills recall).

    Exactness: all counts are exact integers; two ratios rounded 6.
    Plan: ONE pass — every (k, position) shingle comes from a transform
    over the token array (3 slice-joins per row, no per-k rescans), then
    one (k, shingle) groupBy; the sweep is a 3-row result.
    """
    docs = read_table(spark, sf_dir, "documents")
    ws = tokens(F.col("text"))

    def shingles_of(kk: int):
        # closure factory, NOT a default-arg lambda: a 2-arg transform
        # lambda would receive (element, index) and shadow the bound k.
        # The when-guard matters: Spark's sequence(1, 0) is a DESCENDING
        # [1, 0], not empty, so a doc shorter than k needs an explicit
        # empty array (DuckDB's range(1, n-k+2) is empty there).
        body = F.transform(
            F.sequence(F.lit(1), F.size(ws) - kk + 1),
            lambda i: F.struct(
                F.lit(kk).alias("k"),
                F.array_join(F.slice(ws, i, kk), " ").alias("shingle"),
            ),
        )
        empty = F.array().cast("array<struct<k:int,shingle:string>>")
        return F.when(F.size(ws) >= kk, body).otherwise(empty)

    shingled = docs.select(
        F.explode(
            F.flatten(F.array(*[shingles_of(k) for k in (2, 3, 4)]))
        ).alias("s")
    ).select(F.col("s.k").alias("k"), F.col("s.shingle").alias("shingle"))
    per = shingled.groupBy("k", "shingle").agg(F.count(F.lit(1)).alias("c"))
    return (
        per.groupBy(F.col("k").alias("shingle_len"))
        .agg(
            F.sum("c").alias("total_shingles"),
            F.count(F.lit(1)).alias("distinct_shingles"),
            F.round(
                (F.sum("c") - F.count(F.lit(1))) / (1.0 * F.sum("c")), 6
            ).alias("dup_mass"),
            F.round(
                F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
                / (1.0 * F.count(F.lit(1))),
                6,
            ).alias("unique_ratio"),
        )
        .orderBy("shingle_len")
    )


@query(
    "text_js_divergence_sources",
    """
    WITH tok AS (
      SELECT source, unnest(string_split(trim(text), ' ')) AS token
      FROM documents
    ),
    st AS (
      SELECT source, token, COUNT(*) AS c FROM tok GROUP BY source, token
    ),
    src_tot AS (
      SELECT source, SUM(c) AS sn FROM st GROUP BY source
    ),
    corp AS (
      SELECT token, SUM(c) AS cc FROM st GROUP BY token
    ),
    corp_tot AS (SELECT SUM(cc) AS n FROM corp),
    terms AS (
      -- per-(source, token) JSD contribution, quantized to 1e-12 longs
      -- so the vocab-sized fold is order-free. Corpus mass is summed
      -- over the FULL vocab per source: tokens absent from the source
      -- contribute q/2·ln(q/m)=q/2·ln2 analytically via the complement.
      SELECT s.source,
             CAST(ROUND((
               (st.c / (1.0 * s.sn)) / 2.0
                 * LN((st.c / (1.0 * s.sn))
                      / ((st.c / (1.0 * s.sn) + corp.cc / (1.0 * t.n)) / 2))
               + (corp.cc / (1.0 * t.n)) / 2.0
                 * LN((corp.cc / (1.0 * t.n))
                      / ((st.c / (1.0 * s.sn) + corp.cc / (1.0 * t.n)) / 2))
               - (corp.cc / (1.0 * t.n)) / 2.0 * LN(2)
             ) * 1000000000000) AS BIGINT) AS tq
      FROM st
      JOIN src_tot s ON st.source = s.source
      JOIN corp ON corp.token = st.token
      CROSS JOIN corp_tot t
    )
    SELECT source,
           ROUND((SUM(tq) / 1000000000000.0 + LN(2) / 2) / LN(2), 6)
             AS jsd_bits
    FROM terms GROUP BY source ORDER BY jsd_bits DESC, source
    """,
)
def text_js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence (in bits) between each source's unigram
    distribution and the whole-corpus distribution — the bounded,
    symmetric outlier score for 'which source doesn't belong'
    ([[monitor_unigram_kl_drift]] compares two halves with KL; JSD is
    finite even on disjoint vocabularies, so a source of pure boilerplate
    can't blow it to ∞).

    Algebra: Σ over the source's OWN vocabulary of both mixture terms,
    with the corpus mass of tokens ABSENT from the source folded in
    analytically (each contributes q/2·ln2, so the total adds
    (ln2 − Σ_present q·ln2)/2 — no zero-row materialization, the same
    trick as [[text_burstiness_topterms]]' zero-doc fold-in).
    Exactness: per-cell contributions are quantized to 1e-12 longs
    before the vocab-sized sum (order-free), rounded 6 after the ln2
    rescale. Plan: two groupBys to the (source, token) and token frames,
    one broadcast-total join — the corpus is tokenized once.
    """
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(tokens(F.col("text"))).alias("token"))
    st = tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("c"))
    st = st.persist()
    src_tot = st.groupBy("source").agg(F.sum("c").alias("sn"))
    corp = st.groupBy("token").agg(F.sum("c").alias("cc"))
    corp_tot = corp.agg(F.sum("cc").alias("n"))
    p = F.col("c") / (1.0 * F.col("sn"))
    q = F.col("cc") / (1.0 * F.col("n"))
    m = (p + q) / 2
    import math

    term = (p / 2) * F.log(p / m) + (q / 2) * F.log(q / m) - (q / 2) * math.log(2)
    terms = (
        st.join(F.broadcast(src_tot), "source")
        .join(corp, "token")
        .crossJoin(F.broadcast(corp_tot))
        .select(
            "source",
            F.round(term * 1_000_000_000_000).cast("long").alias("tq"),
        )
    )
    return (
        terms.groupBy("source")
        .agg(
            F.round(
                (F.sum("tq") / 1_000_000_000_000.0 + math.log(2) / 2)
                / math.log(2),
                6,
            ).alias("jsd_bits")
        )
        .orderBy(F.desc("jsd_bits"), "source")
    )


_KWIC_KEYWORD = "spark"


@query(
    "text_kwic_concordance",
    f"""
    WITH tok AS (
      SELECT doc_id, ws, generate_subscripts(ws, 1) AS pos, unnest(ws) AS token
      FROM (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents)
    ),
    hits AS (
      SELECT CASE WHEN pos > 1 THEN ws[pos - 1] ELSE '<s>' END AS left_word,
             CASE WHEN pos < len(ws) THEN ws[pos + 1] ELSE '</s>' END
               AS right_word
      FROM tok WHERE token = '{_KWIC_KEYWORD}'
    )
    SELECT left_word, right_word, COUNT(*) AS n_occurrences
    FROM hits GROUP BY left_word, right_word
    ORDER BY n_occurrences DESC, left_word, right_word LIMIT 15
    """,
)
def text_kwic_concordance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KWIC (keyword-in-context) concordance for '{_KWIC_KEYWORD}': the
    15 most frequent (left, right) neighbor pairs, with sentence-edge
    sentinels — the corpus linguist's first look at how a term is used,
    and the qualitative companion to [[text_pmi_collocations]] (PMI
    ranks associated words; KWIC shows the actual frames they occur in).

    Exactness: pure token-position arithmetic and integer counts —
    no floating point. Plan: positions come from one posexplode of the
    token array (the array rides along, so neighbors are element_at
    lookups — no self-join of the token stream), one groupBy to the
    context-pair frame.
    """
    docs = read_table(spark, sf_dir, "documents")
    ws = tokens(F.col("text"))
    tok = docs.select(
        F.col("doc_id"), ws.alias("ws"), F.posexplode(ws).alias("pos0", "token")
    )
    hits = tok.filter(F.col("token") == _KWIC_KEYWORD).select(
        F.when(F.col("pos0") > 0, F.element_at(F.col("ws"), F.col("pos0")))
        .otherwise("<s>")
        .alias("left_word"),
        F.when(
            F.col("pos0") < F.size("ws") - 1,
            F.element_at(F.col("ws"), F.col("pos0") + 2),
        )
        .otherwise("</s>")
        .alias("right_word"),
    )
    return (
        hits.groupBy("left_word", "right_word")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "left_word", "right_word")
        .limit(15)
    )
