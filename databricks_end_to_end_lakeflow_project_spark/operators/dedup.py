"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

North-star additions (SURVEY.md §2.9). Design per technique:

- **exact** — hash-groupBy on a content fingerprint; one shuffle on the
  fingerprint, keep min doc_id. The only dedup that is trivially exact.
- **n-gram Jaccard (brute force)** — the *correctness baseline*: all-pairs
  shingle-set Jaccard. O(n²); only viable on small/blocked inputs, which
  is exactly its role here: the oracle-checked ground truth the LSH path
  is validated against.
- **MinHash-LSH** — the scale path: 64 minhash permutations → 16 bands of
  4 → candidates are pairs sharing a band bucket → verify candidates with
  exact Jaccard. Cost is linear in corpus size + band-bucket joins; with
  (b=16, r=4) the probability of missing a pair at Jaccard 0.8 is
  (1-0.8⁴)¹⁶ ≈ 2·10⁻⁴. Everything is JVM-side expression work
  (xxhash64 + higher-order array functions) — no Python in the loop.
- **SimHash** — 64-bit sketch via a vectorized Pandas UDF (Arrow batches):
  per-token MD5 bits weighted ±1, sign-aggregated. Near-dups differ in
  few bits; banding the 64 bits gives the candidate join.

Scale notes (100 TB): band buckets shuffle on (band_id, band_hash) — hot
buckets (boilerplate-heavy corpora) need per-task bounding:
`minhash_lsh_pairs` block-splits buckets over ``max_bucket`` into
chunk-pair tasks by default (full recall, bounded expansion —
`_split_bucket_pairs`), or with ``overflow='drop'`` excludes them with
an eager audited UserWarning; nothing is silent either way. The
permutation count trades recall for CPU linearly.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql import types as T

from databricks_end_to_end_lakeflow_project_spark.functions.compat import asc_seq
from databricks_end_to_end_lakeflow_project_spark.registry import query
from databricks_end_to_end_lakeflow_project_spark.session import persist_once
from databricks_end_to_end_lakeflow_project_spark.sources.readers import read_table

# deterministic permutation parameters: (a*h31 + b) mod P, products stay
# under 2^62 so ANSI-mode long arithmetic never overflows
_P = (1 << 31) - 1  # Mersenne prime
_N_PERM = 64
_BANDS = 16
# signature-kernel chunk: bounds the (n_perm × shingles) int64 temporary to
# ~64 MB per Python worker, independent of Arrow batch row count
_KERNEL_CHUNK_SHINGLES = 1 << 17



def _perm_params(i: int) -> tuple[int, int]:
    # fixed, reproducible parameters derived from a simple LCG
    a = (1103515245 * (i + 1) + 12345) % _P or 1
    b = (6364136223846793005 * (i + 1)) % _P
    return a, b


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of trimmed, space-tokenized text.

    Built as an n-way ``zip_with`` of shifted slices of the token array —
    NOT as ``transform(sequence(...), i -> element_at(w, i+k))``: in the
    latter, the split expression is inlined into the lambda body and
    re-evaluated for every element access (~n·tokens re-splits per row,
    measured 8× slower). Here every slice is a top-level argument, so the
    split evaluates O(n) times per ROW and the lambdas touch only their
    own variables."""
    w = F.split(F.trim(text), " ")
    length = F.size(w) - (n - 1)
    acc = F.slice(w, 1, length)
    for k in range(1, n):
        acc = F.zip_with(acc, F.slice(w, k + 1, length), lambda a, b: F.concat_ws(" ", a, b))
    return F.array_distinct(acc)


def shingle_hashes(sh: Column) -> Column:
    """Hash each shingle once: array<long> in [0, P)."""
    return F.transform(sh, lambda s: F.pmod(F.xxhash64(s), F.lit(_P)))


def minhash_signatures(sh_df: DataFrame, n_perm: int = _N_PERM) -> DataFrame:
    """(doc_id, sh) → (doc_id, sig: array<long>[n_perm]).

    Shingles are hashed ONCE on the JVM (`shingle_hashes`), then the
    n_perm permutation minima are computed batch-at-a-time inside
    `mapInPandas`: every document's hash array in the Arrow batch is
    flattened into ONE int64 vector, the 64 affine permutations are one
    ``(a[:,None]·flat + b[:,None]) % P`` broadcast over it, and per-doc
    minima come back via ``np.minimum.reduceat`` on the doc offsets — no
    per-row Python loop, so the Python-side cost per document is O(1)
    numpy dispatch amortized over the whole batch (measured ~2× over the
    prior per-doc formulation at 500k docs; that one was itself 4× over
    the explode + 64-``min()``-aggregate groupBy, and higher-order-
    function formulations are 10-100× slower still). The flat vector is
    processed in ≤``_KERNEL_CHUNK_SHINGLES``-shingle slices so the
    (n_perm × chunk) temporary stays ~64 MB regardless of Arrow batch
    size — the batch-sizing cliff the r4 scale curve flagged. The
    signature is a pure per-row function, so the stage is shuffle-free
    and row-local at any corpus size; the math is int64-exact (h < P =
    2³¹−1 and a,b < P keep a·h+b under 2⁶³, so numpy int64 equals the
    JVM long arithmetic bit-for-bit — pinned by `tests/test_llmops.py`).
    Documents whose shingle array is empty produce no row, matching the
    explode form."""
    a = np.array([_perm_params(i)[0] for i in range(n_perm)], dtype=np.int64)
    b = np.array([_perm_params(i)[1] for i in range(n_perm)], dtype=np.int64)

    def mins(batches):
        for pdf in batches:
            col = pdf["h"]
            lens = np.fromiter((len(h) for h in col), dtype=np.int64, count=len(col))
            keep = np.flatnonzero(lens)
            if not len(keep):
                yield pd.DataFrame(
                    {"doc_id": pd.Series([], dtype="int64"), "sig": []}
                )
                continue
            ids = pdf["doc_id"].to_numpy()[keep]
            lens = lens[keep]
            flat = np.concatenate(
                [np.asarray(col.iloc[i], dtype=np.int64) for i in keep]
            )
            bounds = np.concatenate(([0], np.cumsum(lens)))
            sigs = np.empty((len(keep), n_perm), dtype=np.int64)
            p64 = np.int64(_P)
            lo = 0
            while lo < len(keep):
                hi = lo + 1  # always take ≥1 doc, however large
                while (
                    hi < len(keep)
                    and bounds[hi + 1] - bounds[lo] <= _KERNEL_CHUNK_SHINGLES
                ):
                    hi += 1
                seg = flat[bounds[lo] : bounds[hi]]
                offs = bounds[lo:hi] - bounds[lo]
                # one CONTIGUOUS scalar·vector pass per permutation with a
                # Mersenne fold instead of the former
                # ``(a[:,None]·seg + b[:,None]) % P`` broadcast: numpy's
                # strided int64 multiply and int64 ``%`` both drop to
                # scalar fallback loops (measured 1.1 µs/element on this
                # host — ~500× the contiguous path; 25 s per 131072-shingle
                # chunk vs 3 ms for the loop below). The fold is exact:
                # x = a·h + b < P² + P < 2⁶², and for P = 2³¹−1,
                # (x & P) + (x >> 31) folds x below 2³², a second fold
                # lands in [0, 2P), one conditional subtract finishes —
                # bit-identical to ``% P`` (pinned by the kernel test).
                for pi in range(n_perm):
                    x = a[pi] * seg + b[pi]
                    x = (x & p64) + (x >> 31)
                    x = (x & p64) + (x >> 31)
                    x = np.where(x >= p64, x - p64, x)
                    sigs[lo:hi, pi] = np.minimum.reduceat(x, offs)
                lo = hi
            yield pd.DataFrame({"doc_id": ids, "sig": list(sigs)})

    return sh_df.select("doc_id", shingle_hashes(F.col("sh")).alias("h")).mapInPandas(
        mins, schema="doc_id long, sig array<long>"
    )


def jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return inter / union


def _band_rows(sig_df: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(doc_id, sig) → one (doc_id, band_id, band_hash) row per band.

    The band key is ``xxhash64(sig[r1..rk], band_id)`` over the band's
    signature slots DIRECTLY — long columns straight into the hash, with
    the band index folded in as a final argument. Until r10 this was
    ``xxhash64(concat_ws(",", slots))``: 64 long→string conversions plus
    a string concat per document before hashing, measured ~0.5 s of the
    2.5 s cold query at sf0.1 (20%). Correctness is hash-agnostic: two
    documents share a bucket iff their band slots are EQUAL (equal
    inputs → equal hash under any deterministic function), so every
    banded pair survives any keying change; hash collisions can only ADD
    candidates, which exact-Jaccard verification then filters. The
    stats/pairs/incremental paths must all key identically — they share
    this helper."""
    return sig_df.select(
        "doc_id",
        *[c for c in sig_df.columns if c not in ("doc_id", "sig")],
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        *[
                            F.element_at(F.col("sig"), bi * rows_per_band + r + 1)
                            for r in range(rows_per_band)
                        ],
                        F.lit(bi),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("band_id", "band_hash"),
    )


@query(
    "dedup_exact_prefix",
    """
    WITH f AS (
      SELECT doc_id,
             md5(array_to_string(string_split(trim(text), ' ')[1:10], ' ')) AS fp
      FROM documents
    )
    SELECT fp, MIN(doc_id) AS kept_doc_id, COUNT(*) AS group_size
    FROM f GROUP BY fp
    """,
)
def dedup_exact_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content fingerprint (here: first 10 tokens, which
    collapses this corpus 500 → 476). Keep the smallest doc_id per group —
    a deterministic survivor policy. One shuffle on the fingerprint."""
    docs = read_table(spark, sf_dir, "documents")
    w = F.split(F.trim(F.col("text")), " ")
    fp = F.md5(F.concat_ws(" ", F.slice(w, 1, 10)))
    return (
        docs.select(fp.alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("kept_doc_id"), F.count(F.lit(1)).alias("group_size"))
    )


_BLOOM_M = 4096  # filter bits (64 words); scale ≈ 10 bits per base doc
_BLOOM_K = 4  # probe hashes; FPP ≈ (1 - e^(-K·|base|/M))^K


def _bloom_pos(fp: Column, j: int) -> Column:
    """Probe position j for fingerprint ``fp``: the first 8 hex digits of
    ``md5(fp ':' j)`` as an integer, mod the filter size — identical
    arithmetic to the oracle's ``('0x' || substr(md5(..),1,8))::UBIGINT``."""
    return (
        F.conv(F.substring(F.md5(F.concat(fp, F.lit(f":{j}"))), 1, 8), 16, 10)
        .cast("long")
        % _BLOOM_M
    )


_BLOOM_ORACLE = f"""
    WITH f AS (
      SELECT doc_id, source,
             md5(array_to_string(string_split(trim(text), ' ')[1:10], ' ')) AS fp
      FROM documents
    ), base AS (SELECT fp FROM f WHERE source = 'src0'),
    delta AS (SELECT doc_id, fp FROM f WHERE source <> 'src0'),
    ks AS (SELECT unnest(range({_BLOOM_K})) AS j),
    base_pos AS (
      SELECT DISTINCT
             ('0x' || substr(md5(fp || ':' || j), 1, 8))::UBIGINT % {_BLOOM_M} AS pos
      FROM base, ks
    ),
    probe AS (
      SELECT d.doc_id,
             ('0x' || substr(md5(d.fp || ':' || j), 1, 8))::UBIGINT % {_BLOOM_M} AS pos
      FROM delta d, ks
    ),
    maybe AS (
      SELECT doc_id, BOOL_AND(pos IN (SELECT pos FROM base_pos)) AS maybe_dup
      FROM probe GROUP BY doc_id
    )
    SELECT m.doc_id, m.maybe_dup,
           d.fp IN (SELECT fp FROM base) AS exact_dup
    FROM maybe m JOIN delta d USING (doc_id)
"""


@query("dedup_bloom_delta_probe", _BLOOM_ORACLE)
def dedup_bloom_delta_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership pre-filter for INCREMENTAL dedup — the
    100 TB pattern where the base corpus is summarized ONCE into a
    kilobyte bit array and every arriving delta batch probes that model
    instead of joining the corpus: docs whose K probe bits are all set
    are *maybe* duplicates (forwarded to exact/near-dup verification);
    docs with any clear bit are *definitely new* (a Bloom filter has no
    false negatives) and skip the expensive path entirely.

    Returns one row per delta doc (``source <> 'src0'``; ``src0`` is the
    base corpus): ``(doc_id, maybe_dup, exact_dup)`` — carrying the
    ground-truth flag too, so false positives are auditable in the same
    result. Fingerprint = first-10-token md5 (the `dedup_exact_prefix`
    key).

    Spark-first design: the filter is built EXECUTOR-SIDE as
    ``M/64`` ``(word, bits)`` rows — one distinct + one ``bit_or``
    aggregate over ``shiftleft`` masks — and broadcast to the probe
    join, so the base corpus shuffles nothing and the model scales with
    M, not the data. (Spark's own ``df.stat.bloomFilter`` collects an
    opaque driver-side sketch object — unusable as a broadcastable
    DataFrame and not reproducible in the oracle engine; this formation
    is both.) All hashing is the oracle's exact integer arithmetic, so
    even the false-positive SET matches DuckDB bit-for-bit. Size M ≈ 10
    bits per base doc (K=4) for ~1% FPP; the constant here is pinned for
    the fixed oracle corpus."""
    docs = read_table(spark, sf_dir, "documents")
    w = F.split(F.trim(F.col("text")), " ")
    fp = F.md5(F.concat_ws(" ", F.slice(w, 1, 10)))
    f = docs.select("doc_id", "source", fp.alias("fp"))
    base = f.filter(F.col("source") == "src0")
    delta = f.filter(F.col("source") != "src0").select("doc_id", "fp")

    positions = F.array(*[_bloom_pos(F.col("fp"), j) for j in range(_BLOOM_K)])
    words = (
        base.select(F.explode(positions).alias("pos"))
        .distinct()
        .groupBy(F.shiftright(F.col("pos"), 6).alias("word"))
        .agg(
            F.expr(
                "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT)))"
            ).alias("bits")
        )
    )
    probe = delta.select("doc_id", F.explode(positions).alias("pos")).withColumn(
        "word", F.shiftright(F.col("pos"), 6)
    )
    hit = F.coalesce(
        F.expr("(shiftright(bits, CAST(pos % 64 AS INT)) & 1) = 1"), F.lit(False)
    )
    maybe = (
        probe.join(F.broadcast(words), "word", "left")
        .groupBy("doc_id")
        .agg(F.min(hit.cast("int")).alias("__mh"))
        .select("doc_id", (F.col("__mh") == 1).alias("maybe_dup"))
    )
    base_fps = base.select("fp").distinct().withColumn("__ex", F.lit(True))
    exact = delta.join(base_fps, "fp", "left").select(
        "doc_id", F.coalesce(F.col("__ex"), F.lit(False)).alias("exact_dup")
    )
    return maybe.join(exact, "doc_id")


# --- bounded-sample contract for the two brute-force audit baselines ------
#
# An all-pairs audit baseline validates an ESTIMATOR (LSH candidates /
# MinHash slot fractions) against exact Jaccard; that contract needs a
# bounded, deterministic sample — not the full corpus (the two audits were
# the registry's slowest fixed cost, 8.9 s each at sf0.01, and all-pairs
# over the full table is O(n²) at any scale). The sample key is the md5 of
# the 64-char text PREFIX (near-dups in any boilerplate-heavy corpus share
# long prefixes — 24/25 of the sf0.01 true pairs share their first 64
# chars — so pair structure survives sampling far better than hashing the
# full text, which would break every near-identical pair apart), tie-broken
# by doc_id for a total order both engines resolve identically. Spark plans
# the orderBy+limit as TakeOrderedAndProject: an O(N) per-partition heap +
# single N-row reduce, NOT a global sort — scale-safe.
_AUDIT_SAMPLE_DOCS = 256
_AUDIT_SAMPLE_SQL = f"""(
      SELECT doc_id, text FROM documents
      ORDER BY md5(substring(trim(text), 1, 64)), doc_id
      LIMIT {_AUDIT_SAMPLE_DOCS}
    )"""


def _audit_sample(docs: DataFrame) -> DataFrame:
    """The {n} docs with the smallest (md5(64-char prefix), doc_id) key —
    see the contract note above.""".format(n=_AUDIT_SAMPLE_DOCS)
    key = F.md5(F.substring(F.trim(F.col("text")), 1, 64))
    sample = docs.orderBy(key, "doc_id").limit(_AUDIT_SAMPLE_DOCS)
    # limit() lands the sample on ONE partition, which would single-thread
    # the downstream all-pairs nested-loop join; spread the N rows so the
    # O(N²) kernel parallelizes (the repartition moves only N tiny rows).
    return sample.repartition(docs.sparkSession.sparkContext.defaultParallelism)


# template shared by the bounded-sample audit baseline ({src} = the
# 256-doc audit sample) and the FULL-corpus version that serves as the
# LSH query's ground-truth oracle ({src} = documents).
# EXACT Jaccard via the inverted index (round-9): |A∩B| = count of
# matching distinct-shingle rows, |A∪B| = |A|+|B|-|A∩B|, and J >= 0.8 > 0
# implies >= 1 shared shingle, so the blocked pair set is complete —
# identical values to the naive all-pairs list_intersect form, but the
# full-corpus instance drops from a >180 s sf0.1 wedge to seconds.
_JACCARD_PAIRS_ORACLE_TPL = """
    WITH toks AS (
      SELECT doc_id, string_split(trim(text), ' ') AS w
      FROM {src} documents
    ), sh AS (
      SELECT doc_id,
             list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)])
               AS shingles
      FROM toks WHERE len(w) >= 3
    ),
    ex AS (SELECT doc_id, UNNEST(shingles) AS s FROM sh),
    inter AS (
      SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), sz AS (SELECT doc_id, len(shingles) AS n FROM sh)
    SELECT da AS doc_a, db AS doc_b,
           ROUND(i::DOUBLE / (sa.n + sb.n - i), 4) AS jaccard_sim
    FROM inter JOIN sz sa ON sa.doc_id = inter.da
               JOIN sz sb ON sb.doc_id = inter.db
    WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.8
"""

_JACCARD_PAIRS_ORACLE = _JACCARD_PAIRS_ORACLE_TPL.format(src=_AUDIT_SAMPLE_SQL)
_JACCARD_PAIRS_FULL_ORACLE = _JACCARD_PAIRS_ORACLE_TPL.format(src="")


@query("dedup_ngram_jaccard_pairs", _JACCARD_PAIRS_ORACLE)
def dedup_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force near-dup pairs: all-pairs 3-gram-shingle Jaccard ≥ 0.8
    over the bounded content-hash audit sample (``_audit_sample`` — the
    audit-baseline contract only needs a deterministic subset to validate
    the LSH estimator against exact arithmetic, and the prefix-hash key
    keeps near-dup pairs together). At scale the exact kernel runs only
    within LSH candidate buckets, never globally."""
    docs = _audit_sample(read_table(spark, sf_dir, "documents"))
    sh = docs.filter(F.size(F.split(F.trim(F.col("text")), " ")) >= 3).select(
        "doc_id", shingles(F.col("text")).alias("sh")
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    pairs = a.join(b, F.col("doc_a") < F.col("doc_b"))
    j = jaccard(F.col("sh_a"), F.col("sh_b"))
    return (
        pairs.withColumn("jaccard_sim", F.round(j, 4))
        .filter(j >= 0.8)
        .select("doc_a", "doc_b", "jaccard_sim")
    )


def _split_bucket_pairs(over: DataFrame, chunk: int) -> DataFrame:
    """Block-pair decomposition of over-cap LSH buckets — full recall
    with bounded per-task work (the SemDeDup `_chunked_cell_assignment`
    scheme applied to bucket pair expansion).

    Each bucket's SORTED doc list is cut into ⌈B/chunk⌉ slices of ≤
    ``chunk`` docs; every (i ≤ j) slice pair becomes its own row, a
    repartition spreads those rows across the cluster, and each row
    expands ≤ chunk² (doc_a, doc_b) pairs: i == j slices expand their
    internal i<j pairs, i < j slices the full cross product (the sort
    makes every cross pair already doc_a < doc_b, matching the kept-
    bucket expansion's order convention). Pair totals equal C(B,2)
    exactly — nothing is dropped; only the per-task expansion is capped.
    ``over`` is empty for non-degenerate corpora, so the extra stages
    cost nothing in the common case.

    Shuffle volume: the two ≤``chunk``-doc slices are PROJECTED BEFORE
    the repartition, so each shuffled row carries at most 2·chunk ids —
    O(B·k) ids total per bucket, the same order as the pair OUTPUT —
    never the bucket's full doc array per chunk-pair row (which would be
    O(B³/chunk²) bytes through the exchange for a truly hot bucket, the
    exact degenerate case split mode exists for)."""
    c = chunk
    k = F.ceil(F.size("docs") / F.lit(c)).cast("int")
    chunk_pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(0), k - 1),
            lambda i: F.transform(
                F.sequence(i, k - 1),
                lambda j: F.struct(i.alias("ci"), j.alias("cj")),
            ),
        )
    )
    ov = (
        over.select("docs", F.explode(chunk_pairs).alias("cp"))
        .select(
            F.slice(F.col("docs"), F.col("cp.ci") * c + 1, c).alias("sa_col"),
            F.slice(F.col("docs"), F.col("cp.cj") * c + 1, c).alias("sb_col"),
            F.col("cp.ci").alias("ci"),
            F.col("cp.cj").alias("cj"),
        )
        .repartition(F.col("ci"), F.col("cj"), F.xxhash64(F.col("sa_col")[0]))
    )
    sa = F.col("sa_col")
    sb = F.col("sb_col")
    within = F.flatten(
        F.transform(
            sa,
            lambda x, i: F.transform(
                F.slice(sa, i + F.lit(2), F.size(sa)),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    cross = F.flatten(
        F.transform(
            sa,
            lambda x: F.transform(
                sb, lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b"))
            ),
        )
    )
    pairs_arr = F.when(F.col("ci") == F.col("cj"), within).otherwise(cross)
    return ov.select(F.explode(pairs_arr).alias("p")).select("p.doc_a", "p.doc_b")


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    n_perm: int = _N_PERM,
    bands: int = _BANDS,
    max_bucket: int = 50,
    ngram: int = 3,
    overflow: str = "split",
) -> DataFrame:
    """Recall-tunable MinHash-LSH near-dup pairs over (doc_id, text).

    ``n_perm`` permutations split into ``bands`` bands of ``n_perm //
    bands`` rows; a candidate is any pair sharing a band bucket, then
    candidates are verified with exact shingle Jaccard ≥ ``threshold``.
    Recall at Jaccard j is 1 - (1 - j^(n_perm/bands))^bands — more bands
    (fewer rows per band) raises recall and candidate volume; fewer bands
    raises precision of the candidate stage. Defaults (64, 16) give ~2e-4
    miss probability at j=0.8.

    ``max_bucket`` bounds the per-task pair expansion; ``overflow``
    decides what happens to hotter buckets (boilerplate corpora):

    - ``"split"`` (default) — block-pair decomposition, the same scheme
      as SemDeDup's `_chunked_cell_assignment`: the bucket's sorted doc
      list is cut into ≤ max_bucket chunks, every (i ≤ j) chunk pair
      becomes its own row, a repartition spreads those rows across
      tasks, and each task expands ≤ max_bucket² pairs. ZERO recall
      loss at any bucket size — pair totals are unchanged, only the
      per-task expansion is bounded.
    - ``"drop"`` — the bucket is excluded (degenerate clusters belong
      to exact-prefix dedup upstream), but NEVER silently: the function
      eagerly counts capped buckets (one extra job over the persisted
      bucket frame) and raises a ``UserWarning`` with bucket/pair drop
      counts, matching what `minhash_lsh_stats` reports.

    Physical strategy (2.6× over the naive formulation at sf0.1):
    - the shingle frame is persisted — it feeds the signature pass AND both
      sides of candidate verification, so uncached it would be computed 3×
      (the cache entry lives until `spark.catalog.clearCache()`; long-lived
      sessions issuing many LSH runs should clear between corpora, as the
      bench harness does); the bucket frame is persisted for the same
      reason (kept + overflow branches both filter it);
    - candidate pairs are expanded from a per-bucket ``collect_list`` with
      higher-order array functions — ONE shuffle on the band key replaces
      the count-filter pass plus bucket self-join (the cap bounds the
      expansion at max_bucket²/2 pairs per bucket);
    - the candidate set (≪ corpus) broadcasts through both verify joins,
      so the heavy shingle arrays are never shuffled.
    """
    if n_perm % bands:
        raise ValueError("n_perm must be divisible by bands")
    if overflow not in ("split", "drop"):
        raise ValueError("overflow must be 'split' or 'drop'")
    rows_per_band = n_perm // bands
    sh = docs.filter(F.size(F.split(F.trim(F.col("text")), " ")) >= ngram).select(
        "doc_id", shingles(F.col("text"), ngram).alias("sh")
    )
    sh = persist_once(sh)
    sig = minhash_signatures(sh, n_perm)

    # band rows carry ONLY (doc_id, band key) — the shingle arrays stay out
    # of the explode and the bucket shuffle (bands× payload amplification
    # saved)
    band_rows = _band_rows(sig, bands, rows_per_band)

    # one shuffle: gather each bucket's (sorted) doc list, then expand i<j
    # pairs with array higher-order functions — no second pass, no bucket
    # self-join. Buckets over max_bucket go to the overflow branch.
    buckets_all = (
        band_rows.groupBy("band_id", "band_hash")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("docs"))
        .filter(F.size("docs") >= 2)
    )
    buckets_all = persist_once(buckets_all)
    buckets = buckets_all.filter(F.size("docs") <= max_bucket)
    docs_col = F.col("docs")
    candidates = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    docs_col,
                    lambda x, i: F.transform(
                        F.slice(docs_col, i + F.lit(2), F.size(docs_col)),
                        lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b")

    over = buckets_all.filter(F.size("docs") > max_bucket)
    if overflow == "split":
        candidates = candidates.unionByName(
            _split_bucket_pairs(over, max_bucket)
        )
    else:  # "drop" — audited, never silent
        capped = over.agg(
            F.count(F.lit(1)).alias("n_buckets_capped"),
            F.sum(F.size("docs") * (F.size("docs") - 1) / 2).alias(
                "cand_pairs_dropped"
            ),
        ).collect()[0]
        if capped["n_buckets_capped"]:
            import warnings

            warnings.warn(
                f"minhash_lsh_pairs(overflow='drop'): dropped "
                f"{capped['n_buckets_capped']} hot buckets "
                f"(> {max_bucket} docs; ~{int(capped['cand_pairs_dropped'])} "
                f"candidate pairs). Run exact-prefix dedup upstream, or use "
                f"overflow='split' for full recall.",
                UserWarning,
                stacklevel=2,
            )
    candidates = candidates.dropDuplicates(["doc_a", "doc_b"])

    # fetch shingles only for surviving candidate pairs: the pair set is
    # ≪ corpus, so it broadcasts through both joins and the shingle
    # arrays never enter a shuffle
    sh_a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sh_b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    # no broadcast hints: the candidate-pair frame scales with corpus and
    # duplicate mass (unbounded), and attaching sh_a makes it heavier still —
    # AQE broadcasts while small and shuffle-joins at scale (then only the
    # candidate docs' shingles move, never the whole corpus's)
    verified = sh_b.join(sh_a.join(candidates, "doc_a"), "doc_b")
    j = jaccard(F.col("sh_a"), F.col("sh_b"))
    return (
        verified.withColumn("jaccard_sim", F.round(j, 4))
        .filter(j >= threshold)
        .select("doc_a", "doc_b", "jaccard_sim")
    )


def minhash_lsh_stats(
    docs: DataFrame,
    n_perm: int = _N_PERM,
    bands: int = _BANDS,
    max_bucket: int = 50,
    ngram: int = 3,
) -> dict:
    """Scale diagnostics for the LSH banding path — the evidence behind
    the 100 TB claim: bucket-size distribution and the candidate-pair
    count the band join would generate. One aggregate over the bucket
    histogram (no pair expansion), so the cost is the signature pass.

    Returns n_docs, n_buckets (≥2 members), max_bucket,
    n_buckets_capped (over ``max_bucket`` — block-SPLIT by
    `minhash_lsh_pairs`' default overflow mode, or dropped with an
    audited warning under ``overflow='drop'``; this counter and the
    bench curve are the audit trail either way), cand_pairs
    (Σ C(|bucket|,2) over in-cap buckets) and cand_pairs_dropped (the
    same sum over capped buckets — pairs actually lost ONLY in drop
    mode).
    """
    if n_perm % bands:
        raise ValueError("n_perm must be divisible by bands")
    rows_per_band = n_perm // bands
    sh = docs.filter(F.size(F.split(F.trim(F.col("text")), " ")) >= ngram).select(
        "doc_id", shingles(F.col("text"), ngram).alias("sh")
    )
    sig = minhash_signatures(sh, n_perm)
    # IDENTICAL bucket keying to minhash_lsh_pairs — the stats must audit
    # the buckets the pairs path actually joins on (shared _band_rows)
    band_rows = _band_rows(sig, bands, rows_per_band)
    sizes = band_rows.groupBy("band_id", "band_hash").count()
    c = F.col("count")
    pairs = (c * (c - 1) / 2).cast("long")
    row = sizes.agg(
        F.count(F.lit(1)).alias("n_buckets_total"),
        F.sum((c >= 2).cast("int")).alias("n_buckets"),
        F.max(c).alias("max_bucket"),
        F.sum((c > max_bucket).cast("int")).alias("n_buckets_capped"),
        F.sum(F.when((c >= 2) & (c <= max_bucket), pairs).otherwise(0)).alias(
            "cand_pairs"
        ),
        F.sum(F.when(c > max_bucket, pairs).otherwise(0)).alias(
            "cand_pairs_dropped"
        ),
    ).collect()[0]
    return {"n_docs": docs.count(), **row.asDict()}


@query("dedup_minhash_lsh_pairs", _JACCARD_PAIRS_FULL_ORACLE)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs at the default (64-perm, 16-band)
    operating point — oracle-identical to the brute-force Jaccard baseline
    on this corpus. See `minhash_lsh_pairs` for the recall math and the
    physical strategy."""
    return minhash_lsh_pairs(read_table(spark, sf_dir, "documents"))


def sign_vote64(grams) -> int:
    """Signed 64-bit sign-vote sketch of an iterable of byte strings: each
    gram's MD5 (first 8 bytes, big-endian) casts a ±1 vote per bit, and
    bit b is set where its votes sum above zero — the SimHash and pHash
    signature."""
    votes = [0] * 64
    for g in grams:
        h = int.from_bytes(hashlib.md5(g).digest()[:8], "big")
        for b in range(64):
            votes[b] += 1 if (h >> b) & 1 else -1
    out = 0
    for b, v in enumerate(votes):
        if v > 0:
            out |= 1 << b
    # to signed 64-bit
    return out - (1 << 64) if out >= (1 << 63) else out


@pandas_udf(T.LongType())
def _simhash64(texts: pd.Series) -> pd.Series:
    """Vectorized 64-bit SimHash: per-token MD5 → ±1 bit votes → sign.
    Pandas UDF (Arrow batches) because per-bit voting is genuinely awkward
    as a columnar expression; everything around it stays JVM-side."""
    return texts.map(lambda text: sign_vote64(t.encode() for t in text.strip().split(" ")))


def banded_hamming_pairs(
    sigs: DataFrame, id_col: str, sig_col: str, max_hamming: int = 6
) -> DataFrame:
    """Generic 64-bit-sketch near-dup pair generation: band the 64 bits
    into 4×16-bit keys, candidates share any band, verify hamming
    distance ≤ ``max_hamming``. Shared by SimHash (text sketches) and
    pHash (media sketches) — any 64-bit locality-preserving signature
    plugs in. Bands shuffle on (band_id, band_key); candidate volume is
    governed by band-key collisions, never all-pairs."""
    bands = sigs.select(
        F.col(id_col),
        F.col(sig_col).alias("sim"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_id"),
                        F.shiftrightunsigned(F.col(sig_col), i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("band_key"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("b"),
    ).select(id_col, "sim", "b.band_id", "b.band_key")
    left = bands.select("band_id", "band_key", F.col(id_col).alias("doc_a"), F.col("sim").alias("sim_a"))
    right = bands.select("band_id", "band_key", F.col(id_col).alias("doc_b"), F.col("sim").alias("sim_b"))
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        left.join(right, ["band_id", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def simhash_pairs(docs: DataFrame, max_hamming: int = 6) -> DataFrame:
    """SimHash near-dup candidates: band the 64 bits into 4×16-bit keys
    (a pair within hamming distance 3·16-bit-band-misses must share at
    least one band), then verify hamming distance ≤ ``max_hamming``."""
    sigs = docs.select("doc_id", _simhash64(F.col("text")).alias("sim"))
    return banded_hamming_pairs(sigs, "doc_id", "sim", max_hamming)


def _simhash_oracle() -> str:
    """Generated DuckDB oracle for the SimHash pair path — promoted from
    rows-only because the sketch is PURE INTEGER arithmetic, hence
    engine-exact: per token, the first 8 md5 bytes big-endian equal
    DuckDB's ('0x' || substr(md5(tok),1,16))::UBIGINT; the 64 per-bit
    ±1 vote sums, the sign-assembled signature, the 4×16-bit band keys
    and the xor bit_count are all integers — no floats anywhere, so the
    candidate set and hamming distances match the Pandas-UDF sketch
    bit-for-bit."""
    votes = ",\n             ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(64)
    )
    sig = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {1 << b}::UBIGINT ELSE 0::UBIGINT END)"
        for b in range(64)
    )
    bands = "\n      UNION ALL ".join(
        f"SELECT doc_id, sig, {i} AS band_id, (sig >> {i * 16}) & 65535 AS band_key FROM sigs"
        for i in range(4)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM documents
    ), th AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS h FROM toks
    ), v AS (
      SELECT doc_id, {votes}
      FROM th GROUP BY doc_id
    ), sigs AS (
      SELECT doc_id, ({sig}) AS sig FROM v
    ), bands AS (
      {bands}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.sig AS sa, b.sig AS sb
      FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
      WHERE a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(sa, sb)) <= 6
    """


@query("dedup_simhash_pairs", _simhash_oracle())
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs. Promoted from rows-only to a FULL DuckDB
    oracle (round 3): the bit-voting sketch is pure integer arithmetic,
    so a generated 64-term SQL reproduction matches it exactly (see
    `_simhash_oracle`); overlap with the Jaccard baseline is separately
    asserted in tests/test_llmops.py."""
    return simhash_pairs(read_table(spark, sf_dir, "documents"))


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    max_iter: int = 25,
    small_graph_rows: int = 100_000,
) -> DataFrame:
    """Distributed connected components by iterative min-label
    propagation: every node's label converges to the smallest node id
    reachable from it. Returns (node, component).

    ``nodes``: single-column frame of node ids; ``edges``: (src, dst)
    undirected pairs (any orientation) whose endpoints MUST be ids
    present in ``nodes`` (every caller derives both from the same
    table). Each round joins current labels across edges, takes the
    per-node min of (own label, neighbors' labels), and stops when no
    label changed — O(graph diameter) rounds, 2 shuffles per round,
    with TWO rounds batched per checkpoint+count so driver round trips
    are halved (see :func:`_cc_loop`). Near-dup graphs have tiny
    diameters (clusters are quasi-cliques), so this terminates in 2-3
    rounds — usually one batch — in practice. An edge-free graph
    short-circuits to all-singletons with zero loop jobs.

    Scale notes (100 TB): only EDGE-TOUCHED nodes iterate — a node in no
    edge is its own singleton component by construction, so it is split
    off with one anti-join and unioned back after convergence, never
    joined or checkpointed per round. The iterated label frame therefore
    scales with the graph's duplicate mass, not the corpus (on a clean
    corpus that is orders of magnitude smaller). Labels and edges
    shuffle on node id every round; `localCheckpoint` truncates the
    growing lineage so round N's plan does not replay rounds 1..N-1
    (the classic iterative-algorithm trap). The driver sees only a
    per-round changed-count.
    """
    # undirected: propagate along both orientations
    fwd = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bidir = fwd.union(fwd.select(F.col("b").alias("a"), F.col("a").alias("b")))
    # adaptive degree of parallelism: each round is 2 shuffles + 2 jobs
    # whose cost at small sizes is pure per-partition fixed overhead, so a
    # near-dup graph with a few hundred edges should run its rounds on a
    # handful of partitions. Parallelism is sized PER-FRAME with an explicit
    # repartition on the propagation key — never by mutating the session's
    # spark.sql.shuffle.partitions, which would leak the reduced count into
    # unrelated queries planned concurrently on the same session. AQE then
    # coalesces each round's small join/agg shuffles to match.
    spark = nodes.sparkSession
    session_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    bidir = bidir.persist()
    n_edges = bidir.count()
    if n_edges == 0:
        # edge-free graph: every node is its own singleton component —
        # skip the loop AND the endpoints anti-join entirely (zero extra
        # jobs on a clean corpus / empty delta)
        bidir.unpersist()
        return nodes.select("node", F.col("node").alias("component"))
    if n_edges <= small_graph_rows:
        # SMALL-GRAPH FAST PATH: the duplicate graph fits a bounded driver
        # buffer (`small_graph_rows` bidir rows — an explicit cap set by
        # the caller, NOT an unbounded collect), so the whole fixed-point
        # loop — each round a checkpoint+count job pair whose cost at this
        # size is pure driver latency — collapses to one collect, an
        # in-memory union-find, and one broadcast mapping join. The result
        # is bit-identical to the loop (same min-label components); at
        # real scale the count exceeds the cap and the distributed
        # edge-touched iteration below runs instead — the same adaptive
        # small-vs-large switch AQE applies to joins.
        pairs = bidir.collect()
        bidir.unpersist()
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        for row in pairs:
            ra, rb = find(row[0]), find(row[1])
            if ra != rb:
                # min root stays representative → labels == min reachable id
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        mapping = [(n, find(n)) for n in parent]
        node_type = nodes.schema["node"].dataType
        schema = T.StructType(
            [
                T.StructField("node", node_type, False),
                T.StructField("component", node_type, False),
            ]
        )
        mapping_df = spark.createDataFrame(mapping, schema)
        return nodes.join(F.broadcast(mapping_df), "node", "left").select(
            "node",
            F.coalesce("component", F.col("node")).alias("component"),
        )
    parts = min(session_parts, max(1, n_edges // 25_000 + 1))
    if parts < session_parts:
        repart = bidir.repartition(parts, "a").persist()
        bidir.unpersist()
        bidir = repart
    # the iterated node set is the edge endpoints, initial label = self;
    # persisted (edge-scale, tiny) because the lazy singleton anti-join
    # below reads it AFTER bidir unpersists — the same kernel-cache
    # lifetime convention as the shingle cache above (cleared by the
    # caller's / bench's clearCache, never re-derived from the edge plan)
    endpoints = (
        bidir.select(F.col("a").alias("node"))
        .repartition(parts, "node")
        .distinct()  # reuses the repartition's hash exchange — one shuffle
        .persist()
    )
    labels = endpoints.select(
        "node", F.col("node").alias("component")
    ).localCheckpoint()
    singles = nodes.join(endpoints, "node", "left_anti").select(
        "node", F.col("node").alias("component")
    )
    try:
        return _cc_loop(bidir, labels, max_iter).unionByName(singles)
    finally:
        bidir.unpersist()


def _cc_loop(
    bidir: DataFrame, labels: DataFrame, max_iter: int, batch: int = 2
) -> DataFrame:
    """Min-label propagation with ``batch`` rounds per checkpoint+count.

    At tiny graph sizes (SemDeDup's 2k-vector cells) the loop's cost is
    DRIVER ROUND TRIPS — each ``localCheckpoint`` + changed-count is a
    fixed-latency job pair — not shuffle volume. Batching two propagation
    steps into one checkpointed plan halves those round trips, and the
    convergence test only needs the LAST round's flag: min-label
    propagation is monotone, so a round that changed nothing is a fixed
    point even if earlier rounds in the same batch did change — a
    diameter-2 cluster graph therefore stops after ONE checkpoint+count
    (round 1 propagates, round 2 confirms). The flag still rides in the
    checkpointed frame — convergence detection stays a shuffle-free
    checkpoint scan, never an old-vs-new join. Worst case does batch−1
    wasted propagations; at scale each propagation is label-frame-sized
    (edge-touched nodes only), so the trade also holds at 100 TB where
    fewer lineage barriers mean fewer full-frame materializations."""
    it = 0
    while it < max_iter:
        cur = labels
        for _ in range(min(batch, max_iter - it)):
            neighbor_min = (
                bidir.join(cur, bidir["a"] == cur["node"])
                .groupBy(F.col("b").alias("node"))
                .agg(F.min("component").alias("nbr_component"))
            )
            new_comp = F.least(
                F.col("component"), F.coalesce("nbr_component", F.col("component"))
            )
            cur = cur.select("node", "component").join(
                neighbor_min, "node", "left"
            ).select(
                "node",
                new_comp.alias("component"),
                # overwritten each round: only the FINAL round's flag
                # decides convergence (monotone fixed-point test)
                (new_comp < F.col("component")).alias("chg"),
            )
            it += 1
        new_labels = cur.localCheckpoint()
        changed = new_labels.filter("chg").count()
        labels = new_labels.drop("chg")
        if changed == 0:
            break
    return labels


_CLUSTER_ORACLE = """
    WITH RECURSIVE toks AS (
      SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)])
               AS shingles
      FROM toks WHERE len(w) >= 3
    ),
    -- EXACT Jaccard via the inverted index: |A∩B| is the count of
    -- matching shingle rows, |A∪B| = |A|+|B|-|A∩B|; J >= 0.8 > 0
    -- implies >= 1 shared shingle, so the blocked pair set is complete.
    -- Same 256 pairs as the naive all-pairs form at sf0.1, 2 s instead
    -- of a >10-minute 12.5M-pair list_intersect grind (the sweep wedge).
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
    ), sizes AS (
      SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY cluster_id
    )
    SELECT comp.node AS doc_id, comp.cluster_id, sizes.cluster_size,
           comp.node = comp.cluster_id AS is_canonical
    FROM comp JOIN sizes USING (cluster_id)
"""


@query("dedup_cluster_assign", _CLUSTER_ORACLE)
def dedup_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster assignment — the step after pair generation in
    every dedup pipeline: build the similarity graph from the (verified)
    MinHash-LSH pairs, run connected components, and emit each document's
    cluster id (smallest doc_id in its component), cluster size, and
    whether the doc is the cluster's canonical survivor. Singleton docs
    are their own cluster."""
    docs = read_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    nodes = docs.select(F.col("doc_id").alias("node"))
    comp = connected_components(nodes, pairs)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    # no broadcast hint: sizes has one row per COMPONENT (≈ per doc on a
    # clean corpus), so it scales with the table — AQE broadcasts it at
    # small SFs and falls back to a component-keyed shuffle join at scale
    return (
        comp.join(sizes, "component")
        .select(
            F.col("node").alias("doc_id"),
            F.col("component").alias("cluster_id"),
            "cluster_size",
            (F.col("node") == F.col("component")).alias("is_canonical"),
        )
    )


_SURVIVOR_ORACLE = """
    WITH RECURSIVE toks AS (
      SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)])
               AS shingles
      FROM toks WHERE len(w) >= 3
    ),
    -- exact inverted-index Jaccard (see _JACCARD_PAIRS_ORACLE_TPL note)
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
    ), q AS (
      SELECT doc_id,
             0.4 * LEAST(LENGTH(w)::DOUBLE / 100.0, 1.0)
           + 0.4 * (LENGTH(list_distinct(w))::DOUBLE / LENGTH(w))
           + 0.2 * (1.0 - LENGTH(list_filter(w, x -> x IN ('the', 'a')))::DOUBLE
                          / LENGTH(w)) AS score
      FROM toks
    ), ranked AS (
      SELECT comp.cluster_id, comp.node AS doc_id, q.score,
             COUNT(*) OVER (PARTITION BY comp.cluster_id) AS cluster_size,
             ROW_NUMBER() OVER (
               PARTITION BY comp.cluster_id ORDER BY q.score DESC, comp.node
             ) AS rn
      FROM comp JOIN q ON q.doc_id = comp.node
    )
    SELECT cluster_id, doc_id AS kept_doc_id,
           ROUND(score, 4) AS quality_score, cluster_size
    FROM ranked WHERE rn = 1
"""


@query("dedup_survivor_by_quality", _SURVIVOR_ORACLE)
def dedup_survivor_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup survivor selection: within each near-dup
    cluster keep the HIGHEST-quality member (composite quality score,
    tie → lowest doc_id) instead of the arbitrary smallest-id canonical —
    the policy real curation pipelines use so deduplication never
    discards the best copy.

    Plan: reuses the LSH pair graph + connected components; the quality
    score is a pure scan projection; survivor choice is one window on the
    cluster key."""
    from databricks_end_to_end_lakeflow_project_spark.operators.textops import (
        quality_score,
        tokens,
    )

    docs = read_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    comp = connected_components(
        docs.select(F.col("doc_id").alias("node")), pairs
    )
    q = docs.select("doc_id", quality_score(tokens(F.col("text"))).alias("score"))
    joined = comp.join(q, comp["node"] == q["doc_id"]).select(
        F.col("component").alias("cluster_id"), "doc_id", "score"
    )
    win = Window.partitionBy("cluster_id")
    ranked = joined.select(
        "cluster_id", "doc_id", "score",
        F.count(F.lit(1)).over(win).alias("cluster_size"),
        F.row_number().over(
            win.orderBy(F.col("score").desc(), F.col("doc_id"))
        ).alias("rn"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "cluster_id",
        F.col("doc_id").alias("kept_doc_id"),
        F.round("score", 4).alias("quality_score"),
        "cluster_size",
    )


_CONTAINMENT_ORACLE = """
    WITH toks AS (
      SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)])
               AS shingles
      FROM toks WHERE len(w) >= 3
    ),
    -- exact inverted-index containment: |A∩B| via matching-shingle
    -- counts, ORDERED pairs (both directions emitted by the <> join);
    -- C >= 0.9 > 0 implies a shared shingle, so blocking is complete
    ex AS (SELECT doc_id, UNNEST(shingles) AS s FROM sh),
    inter AS (
      SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    ), sz AS (SELECT doc_id, len(shingles) AS n FROM sh)
    SELECT da AS contained_doc, db AS container_doc,
           ROUND(i::DOUBLE / sa.n, 4) AS containment
    FROM inter JOIN sz sa ON sa.doc_id = inter.da
    WHERE i::DOUBLE / sa.n >= 0.9
"""


@query("dedup_containment_pairs", _CONTAINMENT_ORACLE)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup detection: containment C(A,B) = |A∩B| / |A|
    over 3-gram shingles, ordered pairs with C ≥ 0.9. Jaccard misses the
    quote/superset case — a short document wholly embedded in a longer
    one scores low symmetric similarity but containment ≈ 1 — which is
    exactly the shape of boilerplate wrappers, quoted snippets, and
    expanded revisions in a crawl corpus.

    Plan (round-9 rewrite — the sf0.1 sweep caught the previous
    all-pairs nested loop exceeding 180 s on the SPARK side): exact
    inverted-index containment. Explode distinct shingles, equi-join on
    the shingle (one hash shuffle, no nested loop), count matching rows
    per ordered pair = |A∩B|, divide by |A|. C ≥ 0.9 > 0 implies ≥ 1
    shared shingle, so the blocked pair set is complete — identical
    output to the nested-loop form. Cost is Σ_s df(s)² matching rows
    (~2M at sf0.1 vs 25M nested-loop pairs × array intersections); at
    100 TB the same plan applies with a df-capped index + prefix
    filtering, the standard all-pairs-similarity hardening."""
    docs = read_table(spark, sf_dir, "documents")
    sh = docs.filter(F.size(F.split(F.trim(F.col("text")), " ")) >= 3).select(
        "doc_id", shingles(F.col("text")).alias("sh")
    )
    sh = persist_once(sh)
    ex = sh.select("doc_id", F.explode("sh").alias("s"))
    a = ex.select(F.col("doc_id").alias("contained_doc"), "s")
    b = ex.select(F.col("doc_id").alias("container_doc"), "s")
    inter = (
        a.join(b, "s")
        .filter(F.col("contained_doc") != F.col("container_doc"))
        .groupBy("contained_doc", "container_doc")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sizes = sh.select(
        F.col("doc_id").alias("contained_doc"), F.size("sh").alias("n_a")
    )
    c = F.col("i").cast("double") / F.col("n_a")
    return (
        inter.join(sizes, "contained_doc")
        .withColumn("containment", F.round(c, 4))
        .filter(c >= 0.9)
        .select("contained_doc", "container_doc", "containment")
    )


_DELTA_START = 400  # registry demo: doc_id >= this is the "new batch"


def incremental_lsh_delta_pairs(
    docs: DataFrame,
    is_delta,
    threshold: float = 0.8,
    n_perm: int = _N_PERM,
    bands: int = _BANDS,
    max_bucket: int = 50,
    ngram: int = 3,
) -> DataFrame:
    """Incremental near-dup detection: given a corpus with an
    ``is_delta`` predicate marking the NEW batch, emit verified pairs
    that TOUCH the delta — base↔base pairs are skipped entirely (the
    index already holds them). This is the nightly-ingest dedup shape:
    cost scales with the delta's bucket collisions, never corpus².

    In production the base side's signatures/band keys are READ from the
    persisted signature table (built once by `minhash_signatures`, kept
    current by this same job's appends) — recomputing them here keeps
    the demo self-contained without changing the plan shape downstream
    of the bucket join."""
    rows_per_band = n_perm // bands
    sh = docs.filter(F.size(F.split(F.trim(F.col("text")), " ")) >= ngram).select(
        "doc_id", is_delta.alias("is_d"), shingles(F.col("text"), ngram).alias("sh")
    )
    sh = persist_once(sh)
    sig = minhash_signatures(sh, n_perm).join(
        sh.select("doc_id", "is_d"), "doc_id"
    )
    band_rows = _band_rows(sig, bands, rows_per_band).select(
        "doc_id", "is_d", "band_id", "band_hash"
    )

    # one bucket shuffle; pair expansion REQUIRES a delta member — the
    # base-only combinations never materialize
    buckets = (
        band_rows.groupBy("band_id", "band_hash")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("doc_id", "is_d"))
            ).alias("docs")
        )
        .filter((F.size("docs") >= 2) & (F.size("docs") <= max_bucket))
    )
    docs_col = F.col("docs")
    candidates = (
        buckets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        docs_col,
                        lambda x, i: F.filter(
                            F.transform(
                                F.slice(docs_col, i + F.lit(2), F.size(docs_col)),
                                lambda y: F.struct(
                                    x["doc_id"].alias("doc_a"),
                                    y["doc_id"].alias("doc_b"),
                                    (x["is_d"] | y["is_d"]).alias("touches_delta"),
                                ),
                            ),
                            lambda p: p["touches_delta"],
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sh_a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sh_b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    verified = sh_b.join(
        sh_a.join(candidates, "doc_a"), "doc_b"  # unbounded frames — AQE decides
    )
    j = jaccard(F.col("sh_a"), F.col("sh_b"))
    return (
        verified.withColumn("jaccard_sim", F.round(j, 4))
        .filter(j >= threshold)
        .select("doc_a", "doc_b", "jaccard_sim")
    )


@query(
    "dedup_incremental_delta_pairs",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)])
               AS shingles
      FROM toks WHERE len(w) >= 3
    ),
    -- exact inverted-index Jaccard (see _JACCARD_PAIRS_ORACLE_TPL note)
    ex AS (SELECT doc_id, UNNEST(shingles) AS s FROM sh),
    inter AS (
      SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), sz AS (SELECT doc_id, len(shingles) AS n FROM sh)
    SELECT da AS doc_a, db AS doc_b,
           ROUND(i::DOUBLE / (sa.n + sb.n - i), 4) AS jaccard_sim
    FROM inter JOIN sz sa ON sa.doc_id = inter.da
               JOIN sz sb ON sb.doc_id = inter.db
    WHERE (da >= {_DELTA_START} OR db >= {_DELTA_START})
      AND i::DOUBLE / (sa.n + sb.n - i) >= 0.8
    """,
)
def dedup_incremental_delta_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nightly-batch dedup: docs with id ≥ 400 play the newly-ingested
    delta; emit verified near-dup pairs touching the delta via the
    LSH index join — base↔base pairs never materialize. Oracle =
    brute-force Jaccard restricted to delta-touching pairs (LSH recall
    is exact on this corpus, as established by
    `dedup_minhash_lsh_pairs`)."""
    docs = read_table(spark, sf_dir, "documents")
    return incremental_lsh_delta_pairs(
        docs, F.col("doc_id") >= _DELTA_START
    )


@query(
    "dedup_rate_by_source",
    """
    WITH toks AS (
      SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)])
               AS shingles
      FROM toks WHERE len(w) >= 3
    ),
    -- exact inverted-index Jaccard (see _JACCARD_PAIRS_ORACLE_TPL note)
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
    ), dup_docs AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_a AS doc_id FROM pairs UNION ALL SELECT doc_b FROM pairs
      )
    )
    SELECT d.source,
           COUNT(*) AS n_docs,
           COUNT(dd.doc_id) AS n_dup_docs,
           ROUND(COUNT(dd.doc_id)::DOUBLE / COUNT(*), 4) AS dup_rate
    FROM documents d LEFT JOIN dup_docs dd USING (doc_id)
    GROUP BY d.source ORDER BY d.source
    """,
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-rate audit per SOURCE: share of each source's documents
    that participate in at least one verified near-dup pair — the
    corpus-health number that decides which feed gets dedup attention
    (a mirror-heavy crawl shows up here before it poisons training
    mixtures). Reuses the MinHash-LSH verified pairs; membership is a
    semi-join-style flag, aggregated per source."""
    docs = read_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs)
    dup_docs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("__dup", F.lit(1))
    )
    return (
        docs.join(dup_docs, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("__dup").alias("n_dup_docs"),
            F.round(F.count("__dup").cast("double") / F.count(F.lit(1)), 4).alias(
                "dup_rate"
            ),
        )
        .orderBy("source")
    )


_DECILE_QSCORE_SQL = """CAST(ROUND((0.4 * LEAST(LENGTH(w)::DOUBLE / 100.0, 1.0)
         + 0.4 * LENGTH(list_distinct(w))::DOUBLE / LENGTH(w)
         + 0.2 * (1.0 - LENGTH(list_filter(w, x -> x IN ('the', 'a')))::DOUBLE
                        / LENGTH(w))) * 10000.0) AS BIGINT)"""


@query(
    "dedup_rate_by_quality_decile",
    f"""
    WITH t AS (
      SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
    ), s AS (
      SELECT doc_id, {_DECILE_QSCORE_SQL} AS q,
             md5(array_to_string(w[1:10], ' ')) AS fp
      FROM t
    ), g AS (
      SELECT doc_id, fp,
             CAST(NTILE(10) OVER (ORDER BY q, doc_id) AS INT) AS decile
      FROM s
    ), gs AS (
      SELECT fp, COUNT(*) AS gsz FROM s GROUP BY fp
    )
    SELECT g.decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE gs.gsz > 1) AS BIGINT) AS n_dup_members,
           CAST(FLOOR(COUNT(*) FILTER (WHERE gs.gsz > 1) * 1000000 / COUNT(*))
                AS BIGINT) AS dup_ppm
    FROM g JOIN gs USING (fp)
    GROUP BY g.decile ORDER BY g.decile
    """,
)
def dedup_rate_by_quality_decile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-signal curation calibration: duplication rate per quality
    decile — the diagnostic that tells a pipeline whether its dedup and
    quality filters see the SAME bad mass (low-quality deciles dominated
    by duplicates → one pass may subsume the other) or complementary
    mass (uniform dup rate → both passes earn their cost). Quality is
    the fixed-point composite score ranked into exact NTILE(10) deciles
    via scalerank (no global sort); duplication is membership in a
    shared first-10-token fingerprint group (`dedup_exact_prefix`'s
    signal).

    Shape: one scan computes row-local score + fingerprint; the decile
    comes from the distributed rank kernel; group sizes are one
    fingerprint-key groupBy joined back on the fingerprint; the rollup
    is a 10-key aggregate. FLOOR'd integer ppm keeps the oracle exact."""
    from databricks_end_to_end_lakeflow_project_spark.operators.scalerank import (
        with_ntile,
    )
    from databricks_end_to_end_lakeflow_project_spark.operators.textops import (
        quality_score,
        tokens,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    w = tokens(F.col("text"))
    s = docs.select(
        "doc_id",
        F.round(quality_score(w) * 10000.0).cast("long").alias("q"),
        F.md5(F.concat_ws(" ", F.slice(w, 1, 10)).cast("binary")).alias("fp"),
    )
    g = with_ntile(s, 10, value="q", tiebreaks=["doc_id"], out="decile").select(
        "doc_id", "fp", F.col("decile").cast("int").alias("decile")
    )
    gs = s.groupBy("fp").agg(F.count(F.lit(1)).alias("gsz"))
    return (
        g.join(gs, "fp")
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count(F.when(F.col("gsz") > 1, 1)).cast("long").alias("n_dup_members"),
        )
        .select(
            "decile",
            "n_docs",
            "n_dup_members",
            F.floor(F.col("n_dup_members") * 1000000 / F.col("n_docs"))
            .cast("long")
            .alias("dup_ppm"),
        )
        .orderBy("decile")
    )


from databricks_end_to_end_lakeflow_project_spark.sources.scratch import (  # noqa: E402
    pid_model_dir,
)

_MH_AUDIT_DIR = pid_model_dir()
_MH_SIG_PQ = os.path.join(_MH_AUDIT_DIR, "minhash_audit_sigs.parquet")


def _export_minhash_sigs(rows) -> None:
    """Model-export pattern (see retrieval's MMR oracle): the audited
    pairs' 64-slot signatures move to a pid-tagged parquet the oracle
    reads — the model moves, never the corpus; atomic rename."""
    import pyarrow as pa
    import pyarrow.parquet as pq_

    os.makedirs(_MH_AUDIT_DIR, exist_ok=True)
    tbl = pa.table(
        {
            "doc_id": pa.array([int(r["doc_id"]) for r in rows], pa.int64()),
            "sig": pa.array([list(map(int, r["sig"])) for r in rows],
                            pa.list_(pa.int64())),
        }
    )
    tmp = _MH_SIG_PQ + ".tmp"
    pq_.write_table(tbl, tmp)
    os.replace(tmp, _MH_SIG_PQ)


def _minhash_audit_oracle() -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split(trim(text), ' ') AS w
      FROM {_AUDIT_SAMPLE_SQL} documents
    ), sh AS (
      SELECT doc_id,
             list_distinct([array_to_string(w[i:i+2], ' ')
                            for i in range(1, len(w) - 1)]) AS shingles
      FROM toks WHERE len(w) >= 3
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(ROUND(len(list_intersect(a.shingles, b.shingles))::DOUBLE
                   / len(list_distinct(list_concat(a.shingles, b.shingles)))
                   * 10000) AS BIGINT) AS jaccard_x10000
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE
            / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.8
    ), sigs AS (
      SELECT doc_id, sig FROM read_parquet('{_MH_SIG_PQ}')
    )
    SELECT p.doc_a, p.doc_b, p.jaccard_x10000,
           CAST(len(list_filter(list_zip(sa.sig, sb.sig), z -> z[1] = z[2]))
                AS BIGINT) AS n_matching_slots,
           CAST(FLOOR(len(list_filter(list_zip(sa.sig, sb.sig), z -> z[1] = z[2]))
                      * 10000 / 64) AS BIGINT) AS est_x10000,
           CAST(ABS(CAST(FLOOR(len(list_filter(list_zip(sa.sig, sb.sig),
                                               z -> z[1] = z[2]))
                               * 10000 / 64) AS BIGINT) - p.jaccard_x10000)
                AS BIGINT) AS abs_err_x10000
    FROM pairs p
    JOIN sigs sa ON sa.doc_id = p.doc_a
    JOIN sigs sb ON sb.doc_id = p.doc_b
    ORDER BY p.doc_a, p.doc_b
    """


@query("dedup_minhash_estimate_audit", _minhash_audit_oracle())
def dedup_minhash_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit for MinHash: on the exact near-dup pairs
    (Jaccard >= 0.8, the brute baseline), compare the TRUE Jaccard to
    the 64-permutation signature estimate (matching-slot fraction —
    E[matches]/64 = J, sd ~ sqrt(J(1-J)/64) ~ 0.05 here) — the
    calibration check that justifies the LSH operating point before
    anyone trusts its thresholds at scale.

    The signatures are engine-internal (xxhash64 permutations DuckDB
    cannot reproduce), so the audit uses the established model-export
    contract: the audited pairs' 64-slot signatures move to a
    pid-tagged parquet the oracle reads back (the model moves, never
    the corpus), and slot matching / error arithmetic is all integers.

    Shape: the baseline pair search is the whitelisted brute scan; the
    signature kernel is the shuffle-free Arrow/numpy path
    (`minhash_signatures`); only the ~50 audited docs' signatures ever
    leave the cluster. Pair search runs over the bounded content-hash
    audit sample (``_audit_sample``) — the estimator-vs-truth contract
    needs a deterministic subset, not the full corpus."""
    docs = _audit_sample(read_table(spark, sf_dir, "documents"))
    w = F.split(F.trim(F.col("text")), " ")
    sh = docs.filter(F.size(w) >= 3).select(
        "doc_id", shingles(F.col("text"), 3).alias("sh")
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("double")
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b"))).cast("double")
    j = inter / union
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    pairs = (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .filter(j >= 0.8)
        .select(
            "doc_a",
            "doc_b",
            F.round(j * 10000).cast("long").alias("jaccard_x10000"),
        )
    )
    pairs = persist_once(pairs)
    audited = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sigs = minhash_signatures(
        sh.join(audited, sh["doc_id"] == audited["doc_id"], "left_semi")
    )
    _export_minhash_sigs(sigs.collect())
    matches = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda eq: eq,
        )
    )
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    est = F.floor(matches * 10000 / 64).cast("long")
    return (
        pairs.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "jaccard_x10000",
            matches.cast("long").alias("n_matching_slots"),
            est.alias("est_x10000"),
            F.abs(est - F.col("jaccard_x10000")).cast("long").alias("abs_err_x10000"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# round-6 addition (session 2): sorted-neighborhood candidate generation
# ---------------------------------------------------------------------------

_SNM_KEY_LEN = 24  # sort key: first 24 chars of the space-stripped text
_SNM_BUCKET_LEN = 2  # sort-bucket granularity (window partition key)
_SNM_WINDOW = 3  # compare each record to its next w sort neighbors

_SNM_ORACLE = f"""
    WITH keyed AS (
      SELECT doc_id,
             SUBSTRING(REPLACE(trim(text), ' ', ''), 1, {_SNM_KEY_LEN}) AS k,
             SUBSTRING(REPLACE(trim(text), ' ', ''), 1, {_SNM_BUCKET_LEN}) AS p2
      FROM documents
    ),
    cand AS (
      SELECT doc_id AS d1, nxt AS d2 FROM (
        SELECT doc_id,
               LEAD(doc_id, 1) OVER w AS l1,
               LEAD(doc_id, 2) OVER w AS l2,
               LEAD(doc_id, 3) OVER w AS l3
        FROM keyed
        WINDOW w AS (PARTITION BY p2 ORDER BY k, doc_id)
      ), UNNEST([l1, l2, l3]) AS u(nxt)
      WHERE nxt IS NOT NULL
    ),
    pairs AS (
      SELECT LEAST(d1, d2) AS doc_a, GREATEST(d1, d2) AS doc_b FROM cand
    ),
    toks AS (
      SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct([array_to_string(w[i:i+2], ' ')
                            for i in range(1, len(w) - 1)]) AS shingles
      FROM toks WHERE len(w) >= 3
    )
    SELECT p.doc_a, p.doc_b,
           ROUND(len(list_intersect(a.shingles, b.shingles))::DOUBLE
                 / len(list_distinct(list_concat(a.shingles, b.shingles))), 4)
             AS jaccard_sim
    FROM pairs p
    JOIN sh a ON a.doc_id = p.doc_a
    JOIN sh b ON b.doc_id = p.doc_b
    WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE
          / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.8
    ORDER BY doc_a, doc_b
"""


@query("dedup_sorted_neighborhood_pairs", _SNM_ORACLE)
def dedup_sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-dup candidates (Hernández & Stolfo,
    SIGMOD'95): sort the corpus by a content-derived key, compare each
    record only to its next w={_SNM_WINDOW} sort neighbors, verify the
    survivors with exact 3-gram-shingle Jaccard ≥ 0.8 — the THIRD
    blocking discipline in the dedup family, complementing LSH (hash
    buckets) and SimHash (bit bands). SNM's scale contract is different:
    candidate volume is EXACTLY w·n (linear by construction, no bucket
    skew possible), at the cost of sort-order recall (near-dups whose
    difference falls inside the key prefix sort apart — production runs
    multiple passes with rotated keys, same as LSH runs multiple bands).

    Plan shape: the sort is a partitioned window (bucket = first
    {_SNM_BUCKET_LEN} key chars, ~vocabulary² buckets chosen from key
    stats; at 100 TB the bucket length grows with the corpus so each
    range-partition sorts locally), LEAD is frame-free, and the
    Jaccard verification joins only the w·n candidate pairs back to the
    shingle sets on doc_id — equi-keyed, broadcast-eligible on the
    candidate side.
    """
    docs = read_table(spark, sf_dir, "documents")
    norm = F.replace(F.trim(F.col("text")), F.lit(" "), F.lit(""))
    keyed = docs.select(
        "doc_id",
        F.substring(norm, 1, _SNM_KEY_LEN).alias("k"),
        F.substring(norm, 1, _SNM_BUCKET_LEN).alias("p2"),
    )
    w = Window.partitionBy("p2").orderBy("k", "doc_id")
    leads = keyed.select(
        F.col("doc_id").alias("d1"),
        *[
            F.lead("doc_id", i).over(w).alias(f"l{i}")
            for i in range(1, _SNM_WINDOW + 1)
        ],
    )
    cand = (
        leads.select(
            "d1",
            F.explode(
                F.array(*[F.col(f"l{i}") for i in range(1, _SNM_WINDOW + 1)])
            ).alias("d2"),
        )
        .filter(F.col("d2").isNotNull())
        .select(
            F.least("d1", "d2").alias("doc_a"),
            F.greatest("d1", "d2").alias("doc_b"),
        )
    )
    sh = docs.filter(F.size(F.split(F.trim(F.col("text")), " ")) >= 3).select(
        "doc_id", shingles(F.col("text")).alias("sh")
    )
    j = jaccard(F.col("sh_a"), F.col("sh_b"))
    return (
        cand.join(sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")), "doc_b")
        .filter(j >= 0.8)
        .select("doc_a", "doc_b", F.round(j, 4).alias("jaccard_sim"))
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# round-7 addition: the dedup cascade as ONE funnel
# ---------------------------------------------------------------------------

_CASCADE_RARE_DF = 50  # posting-list cap for the exact-verify stage
_CASCADE_TAU = 0.8


@query(
    "pipeline_dedup_cascade",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(trim(text), ' ') AS ws,
             md5(trim(text)) AS h_exact
      FROM documents
    ),
    s1 AS (  -- exact-text dedup: keep the smallest doc per hash
      SELECT doc_id, ws FROM (
        SELECT doc_id, ws,
               ROW_NUMBER() OVER (PARTITION BY h_exact ORDER BY doc_id) AS rn
        FROM toks
      ) WHERE rn = 1
    ),
    sh AS (
      SELECT doc_id,
             array_to_string(ws[i : i + 2], ' ') AS shingle
      FROM s1 CROSS JOIN LATERAL UNNEST(range(1, len(ws) - 1)) AS u(i)
    ),
    ssets AS (
      SELECT doc_id,
             md5(string_agg(DISTINCT shingle, '|' ORDER BY shingle)) AS h_set
      FROM sh GROUP BY doc_id
    ),
    s2 AS (  -- shingle-SET dedup (catches reorderings exact text misses)
      SELECT doc_id FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (PARTITION BY h_set ORDER BY doc_id) AS rn
        FROM ssets
      ) WHERE rn = 1
    ),
    dsh AS (
      SELECT DISTINCT sh.doc_id, sh.shingle
      FROM sh JOIN s2 ON sh.doc_id = s2.doc_id
    ),
    df AS (SELECT shingle, COUNT(*) AS df FROM dsh GROUP BY shingle),
    rare AS (
      SELECT dsh.doc_id, dsh.shingle
      FROM dsh JOIN df ON dsh.shingle = df.shingle
      WHERE df.df <= {_CASCADE_RARE_DF}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM rare GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
      FROM rare a JOIN rare b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY da, db
    ),
    pairs AS (
      SELECT da, db
      FROM inter
      JOIN sizes sa ON sa.doc_id = inter.da
      JOIN sizes sb ON sb.doc_id = inter.db
      WHERE inter.i >= {_CASCADE_TAU} * (sa.sz + sb.sz - inter.i)
    )
    SELECT stage, n FROM (
      SELECT '0_raw_docs' AS stage,
             (SELECT COUNT(*) FROM toks) AS n
      UNION ALL
      SELECT '1_after_exact_dedup', (SELECT COUNT(*) FROM s1)
      UNION ALL
      SELECT '2_after_shingleset_dedup', (SELECT COUNT(*) FROM s2)
      UNION ALL
      SELECT '3_neardup_pairs_tau80', (SELECT COUNT(*) FROM pairs)
    ) ORDER BY stage
    """,
)
def pipeline_dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production dedup CASCADE as one funnel: exact-text hash →
    shingle-SET hash (catches token reorderings) → rare-shingle
    inverted-index exact Jaccard ≥ {_CASCADE_TAU} pair detection among
    the survivors — cheapest filter first, each stage shrinking the next
    stage's input, with the per-stage survivor counts as the report
    ([[dedup_minhash_lsh_pairs]] is the probabilistic candidate
    generator; this cascade is the exact-arithmetic path a curation run
    composes around it, cf. `pipeline_pretraining_run`'s funnel).

    Scale design: stages 0-2 are hash groupBys (map-side combinable);
    stage 3 joins the inverted shingle index RESTRICTED to shingles with
    df ≤ {_CASCADE_RARE_DF} — the standard posting-list cap that bounds
    pair fan-out per shingle at df²/2 while near-dups (which share MANY
    rare shingles) always surface. All counts exact integers.
    """
    docs = read_table(spark, sf_dir, "documents")
    counts = dedup_cascade_funnel(docs)
    return spark.createDataFrame(counts, "stage string, n long").orderBy("stage")


def dedup_cascade_funnel(docs: DataFrame) -> list[tuple[str, int]]:
    """The cascade itself, reusable over any (doc_id, text) frame —
    `pipeline_dedup_cascade` runs it on the documents table; bench.py's
    dedup curve runs it on ×10/×100 replicas to measure the posting-list
    cap's behavior at scale. Returns the funnel counts."""
    from databricks_end_to_end_lakeflow_project_spark.operators.textops import (
        tokens,
    )

    ws = tokens(F.col("text"))
    toks = docs.select(
        "doc_id", ws.alias("ws"), F.md5(F.trim(F.col("text"))).alias("h_exact")
    )
    toks = persist_once(toks)
    w1 = Window.partitionBy("h_exact").orderBy("doc_id")
    s1 = (
        toks.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") == 1)
        .select("doc_id", "ws")
    )
    sh = s1.select(
        "doc_id",
        F.explode(
            F.transform(
                # asc_seq: a <3-token doc must yield ZERO shingles, not a
                # descending [1,0] that makes slice() throw (the DuckDB
                # oracle's range(1, n-1) is empty there).
                asc_seq(F.lit(1), F.size("ws") - 2),
                lambda i: F.array_join(F.slice(F.col("ws"), i, 3), " "),
            )
        ).alias("shingle"),
    )
    sh = persist_once(sh)
    ssets = sh.groupBy("doc_id").agg(
        F.md5(F.array_join(F.sort_array(F.collect_set("shingle")), "|")).alias(
            "h_set"
        )
    )
    w2 = Window.partitionBy("h_set").orderBy("doc_id")
    s2 = (
        ssets.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") == 1)
        .select("doc_id")
    )
    dsh = sh.join(s2, "doc_id").distinct()
    dsh = persist_once(dsh)
    df = dsh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    rare = dsh.join(df.filter(F.col("df") <= _CASCADE_RARE_DF), "shingle").select(
        "doc_id", "shingle"
    )
    rare = persist_once(rare)
    sizes = rare.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = rare.select(F.col("doc_id").alias("da"), "shingle")
    b = rare.select(F.col("doc_id").alias("db"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("da") < F.col("db"))
        .groupBy("da", "db")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    pairs = (
        inter.join(sizes.select(F.col("doc_id").alias("da"), F.col("sz").alias("sa")), "da")
        .join(sizes.select(F.col("doc_id").alias("db"), F.col("sz").alias("sb")), "db")
        .filter(
            F.col("i") >= _CASCADE_TAU * (F.col("sa") + F.col("sb") - F.col("i"))
        )
    )
    return [
        ("0_raw_docs", toks.count()),
        ("1_after_exact_dedup", s1.count()),
        ("2_after_shingleset_dedup", s2.count()),
        ("3_neardup_pairs_tau80", pairs.count()),
    ]


# ---------------------------------------------------------------------------
# round-8: LSH (bands × rows) operating-point design sweep
# ---------------------------------------------------------------------------

_BR_CONFIGS = [(32, 2), (16, 4), (8, 8)]  # b × r = 64 permutations each


@query(
    "dedup_band_row_tradeoff",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(trim(text), ' ') AS w
      FROM {_AUDIT_SAMPLE_SQL} documents
    ), sh AS (
      SELECT doc_id,
             list_distinct([array_to_string(w[i:i+2], ' ')
                            for i in range(1, len(w) - 1)]) AS shingles
      FROM toks WHERE len(w) >= 3
    ), pairs AS (
      SELECT len(list_intersect(a.shingles, b.shingles))::DOUBLE
             / len(list_distinct(list_concat(a.shingles, b.shingles))) AS j
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    ), cfg AS (
      SELECT * FROM (VALUES {", ".join(f"({b}, {r})" for b, r in _BR_CONFIGS)})
        AS t(bands, rows_per_band)
    ), sweep AS (
      SELECT bands, rows_per_band,
             COUNT(*) FILTER (WHERE j >= 0.8) AS n_true_pairs,
             SUM(CAST(ROUND((1 - POWER(1 - POWER(j, rows_per_band), bands))
                            * 1000000) AS BIGINT))
               FILTER (WHERE j >= 0.8) AS etp_q,
             SUM(CAST(ROUND((1 - POWER(1 - POWER(j, rows_per_band), bands))
                            * 1000000) AS BIGINT)) AS ecand_q
      FROM pairs, cfg GROUP BY bands, rows_per_band
    )
    SELECT bands, rows_per_band,
           ROUND(1 - POWER(1 - POWER(0.8, rows_per_band), bands), 6)
             AS p_detect_at_080,
           n_true_pairs,
           ROUND(COALESCE(etp_q, 0) / 1000000.0, 4) AS expected_true_detected,
           ROUND(ecand_q / 1000000.0, 4) AS expected_candidates
    FROM sweep ORDER BY bands DESC
    """,
)
def dedup_band_row_tradeoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH operating-point design sweep over (bands × rows) splits of the
    64-permutation MinHash budget: for each config, the theoretical
    s-curve detection probability at the j=0.8 threshold AND the
    EXPECTED true-pair detections / total candidates on this corpus —
    Σ over the audit sample's exact pairwise Jaccards of
    1 − (1 − jʳ)ᵇ. This is the table you read before picking
    [[dedup_minhash_lsh_pairs]]'s (16, 4) default: more bands → higher
    recall AND more junk candidates; the corpus-weighted expectation
    (not just the s-curve) is what actually prices the choice.
    [[dedup_minhash_estimate_audit]] validates the estimator itself;
    this sweeps the decision.

    Exactness: pairwise Jaccard is exact set arithmetic on the bounded
    content-hash audit sample (`_audit_sample`); each pair's detection
    probability is one POWER expression identical in both engines,
    quantized to 1e-6 BEFORE the sum. Plan: the bounded all-pairs
    kernel (whitelisted, 256-doc sample) × a 3-row config broadcast,
    one groupBy.
    """
    docs = _audit_sample(read_table(spark, sf_dir, "documents"))
    sh = docs.filter(F.size(F.split(F.trim(F.col("text")), " ")) >= 3).select(
        "doc_id", shingles(F.col("text")).alias("sh")
    )
    a = sh.select(F.col("doc_id").alias("da"), F.col("sh").alias("sa"))
    b = sh.select(F.col("doc_id").alias("db"), F.col("sh").alias("sb"))
    j = (
        F.size(F.array_intersect(F.col("sa"), F.col("sb"))).cast("double")
        / F.size(F.array_union(F.col("sa"), F.col("sb")))
    )
    pairs = a.join(b, F.col("da") < F.col("db")).select(j.alias("j"))
    cfg = docs.sparkSession.createDataFrame(
        _BR_CONFIGS, "bands int, rows_per_band int"
    )
    p = 1 - F.pow(1 - F.pow(F.col("j"), F.col("rows_per_band")), F.col("bands"))
    pq = F.round(p * 1_000_000).cast("long")
    sweep = (
        pairs.crossJoin(F.broadcast(cfg))
        .groupBy("bands", "rows_per_band")
        .agg(
            F.sum((F.col("j") >= 0.8).cast("long")).alias("n_true_pairs"),
            F.coalesce(F.sum(F.when(F.col("j") >= 0.8, pq)), F.lit(0)).alias(
                "etp_q"
            ),
            F.sum(pq).alias("ecand_q"),
        )
    )
    return sweep.select(
        "bands",
        "rows_per_band",
        F.round(
            1 - F.pow(1 - F.pow(F.lit(0.8), F.col("rows_per_band")), F.col("bands")),
            6,
        ).alias("p_detect_at_080"),
        "n_true_pairs",
        F.round(F.col("etp_q") / 1_000_000.0, 4).alias("expected_true_detected"),
        F.round(F.col("ecand_q") / 1_000_000.0, 4).alias("expected_candidates"),
    ).orderBy(F.desc("bands"))
