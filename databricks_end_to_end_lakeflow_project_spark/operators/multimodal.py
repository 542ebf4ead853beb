"""Multimodal columns: opaque binary payloads with typed metadata, and
mapInPandas decode / feature-extract / resize / frame-sample plumbing.

North-star additions (SURVEY.md §2.9). Architecture for media at 100 TB:

- media lives as an opaque ``binary`` column (or object-store URI) next
  to typed metadata (modality, byte length, checksums, dimensions);
- decode/transform runs as ``mapInPandas`` — per-partition Arrow batch
  iterators, so a partition's payloads stream through Python once,
  without a per-row UDF round trip; partition sizing (bytes, not rows)
  is the knob that keeps executor memory bounded;
- the actual codec calls (PIL/ffmpeg/torchaudio) are NOT in this
  container, so the codec boundary is stubbed: `decode_image_meta`
  raises ``NotImplementedError`` unless given the deterministic fake
  codec used by tests. The Spark-side contract — schemas, batch iterator
  signatures, partitioning — is real and tested.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql import types as T

from databricks_end_to_end_lakeflow_project_spark.operators.dedup import (
    banded_hamming_pairs,
    sign_vote64,
)
from databricks_end_to_end_lakeflow_project_spark.registry import query
from databricks_end_to_end_lakeflow_project_spark.sources.readers import read_table

MEDIA_SCHEMA = (
    "doc_id long, modality string, payload binary, byte_len long, md5 string"
)
IMAGE_META_SCHEMA = "doc_id long, byte_len long, width int, height int, md5 string"


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Wrap the documents table as a media table: payload = UTF-8 bytes of
    the text (a stand-in for image/audio bytes), plus typed metadata.
    Demonstrates the binary-column layout; real pipelines land bytes here
    straight from the object store."""
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        F.lit("text/plain").alias("modality"),
        payload.alias("payload"),
        F.octet_length(payload).cast("long").alias("byte_len"),
        F.md5(payload).alias("md5"),
    )


def fake_image_codec(payload: bytes) -> tuple[int, int]:
    """Deterministic stand-in for an image decoder: derives a plausible
    (width, height) from the payload alone. Replace with PIL in a real
    deployment."""
    n = len(payload)
    width = 64 + (n % 512)
    height = 64 + ((n * 31) % 512)
    return width, height


def decode_image_meta(
    payload: bytes, codec: Callable[[bytes], tuple[int, int]] | None = None
) -> tuple[int, int]:
    """Codec boundary. No real image libraries ship in this environment:
    calling without an explicit codec raises, by design."""
    if codec is None:
        raise NotImplementedError(
            "no image codec in this environment; pass codec= (e.g. PIL-based)"
        )
    return codec(payload)


def extract_image_features(
    media: DataFrame, codec: Callable[[bytes], tuple[int, int]] = fake_image_codec
) -> DataFrame:
    """mapInPandas feature extraction: payload → (dimensions, checksum).
    One Arrow batch in, one out; constant memory per partition."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dims = [decode_image_meta(p, codec) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": [len(p) for p in pdf["payload"]],
                    "width": [d[0] for d in dims],
                    "height": [d[1] for d in dims],
                    "md5": [hashlib.md5(p).hexdigest() for p in pdf["payload"]],
                }
            )

    return media.mapInPandas(_extract, schema=IMAGE_META_SCHEMA)


def sample_frames(media: DataFrame, every_n_bytes: int = 1024) -> DataFrame:
    """Frame-sampling shape for video payloads: emit one row per sampled
    'frame' offset (here: every ``every_n_bytes``). Output is a normal
    exploded table — downstream operators treat frames as rows."""

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_ids, out_off, out_chunk = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                for off in range(0, len(payload), every_n_bytes):
                    out_ids.append(doc_id)
                    out_off.append(off)
                    out_chunk.append(bytes(payload[off : off + 16]))
            yield pd.DataFrame(
                {"doc_id": out_ids, "frame_offset": out_off, "frame_probe": out_chunk}
            )

    return media.mapInPandas(_sample, schema="doc_id long, frame_offset long, frame_probe binary")


def resize_images(
    media: DataFrame,
    scale_den: int = 2,
    codec: Callable[[bytes], tuple[int, int]] = fake_image_codec,
) -> DataFrame:
    """Resize shape: decode dims, emit target dims + a payload stub for
    the resized asset. A real deployment swaps the body for PIL
    ``Image.resize``; the Spark contract (mapInPandas, Arrow batches,
    binary out) is identical."""

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dims = [decode_image_meta(p, codec) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": [d[0] // scale_den for d in dims],
                    "height": [d[1] // scale_den for d in dims],
                    "payload": [
                        bytes(p[: max(1, len(p) // scale_den)]) for p in pdf["payload"]
                    ],
                }
            )

    return media.mapInPandas(
        _resize, schema="doc_id long, width int, height int, payload binary"
    )


@query(
    "multimodal_frame_sample",
    """
    SELECT doc_id, 64*n AS frame_offset,
           md5(substring(text, 64*n + 1, 16)) AS probe_md5
    FROM documents
    JOIN (SELECT unnest(range(0, 64)) AS n) t ON 64*n < length(text)
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling registered end to end: every 64th byte offset of
    each payload becomes a frame row with a 16-byte probe, checksummed.
    The oracle recomputes probes with VARCHAR substrings — valid because
    the corpus is pure ASCII (byte offset == char offset; asserted in
    tests/test_llmops.py). Explosion happens inside mapInPandas so a
    partition streams through Python once; no driver involvement."""
    media = documents_as_media(read_table(spark, sf_dir, "documents"))
    frames = sample_frames(media, every_n_bytes=64)
    return frames.select(
        "doc_id", "frame_offset", F.md5("frame_probe").alias("probe_md5")
    )


@query(
    "multimodal_resize_plan",
    """
    SELECT doc_id,
           ((64 + octet_length(encode(text)) % 512) // 2)::INT AS width,
           ((64 + (octet_length(encode(text)) * 31) % 512) // 2)::INT AS height,
           (GREATEST(octet_length(encode(text)) // 2, 1))::BIGINT AS resized_bytes
    FROM documents
    """,
)
def multimodal_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-scale resize over the media table (fake codec): target dims
    plus resized payload size, oracle-recomputed arithmetically from the
    source bytes. Verifies the binary out-path of the resize kernel
    (payload length survives the Arrow round trip)."""
    media = documents_as_media(read_table(spark, sf_dir, "documents"))
    return resize_images(media, scale_den=2).select(
        "doc_id",
        "width",
        "height",
        F.octet_length("payload").cast("long").alias("resized_bytes"),
    )


@query(
    "multimodal_image_features",
    """
    SELECT doc_id,
           octet_length(encode(text)) AS byte_len,
           (64 + octet_length(encode(text)) % 512)::INT AS width,
           (64 + (octet_length(encode(text)) * 31) % 512)::INT AS height,
           md5(text) AS md5
    FROM documents
    """,
)
def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column pipeline end to end: documents → media table (binary
    payload + metadata) → mapInPandas feature extraction with the
    deterministic fake codec. Oracle recomputes the same features from
    the text bytes — checksum (md5) included, so the binary round trip
    through Arrow is verified byte-exact."""
    media = documents_as_media(read_table(spark, sf_dir, "documents"))
    return extract_image_features(media)


def audio_frame_energy(media: DataFrame, frame_bytes: int = 100) -> DataFrame:
    """Audio-modality plumbing: treat each payload as a PCM byte stream,
    window it into fixed frames, and emit per-frame RMS energy — the
    precursor to voice-activity detection / silence trimming. Real codecs
    are stubbed per the environment contract (see `decode_image_meta`);
    the byte→sample interpretation (unsigned byte value) is deterministic
    so the whole path is oracle-checkable. Framing + energy run inside
    one mapInPandas pass (numpy per Arrow batch), no shuffle."""
    import math

    import pandas as pd

    def _energy(batches):
        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "n_samples": [], "rms": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                buf = bytes(payload)
                for idx in range(0, (len(buf) + frame_bytes - 1) // frame_bytes):
                    frame = buf[idx * frame_bytes:(idx + 1) * frame_bytes]
                    acc = sum(b * b for b in frame)
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(idx)
                    out["n_samples"].append(len(frame))
                    out["rms"].append(round(math.sqrt(acc / len(frame)), 4))
            yield pd.DataFrame(out)

    return media.select("doc_id", "payload").mapInPandas(
        _energy, schema="doc_id long, frame_idx int, n_samples int, rms double"
    )


@query(
    "multimodal_audio_energy",
    """
    WITH f AS (
      SELECT doc_id, n AS frame_idx,
             substring(text, 100*n + 1, 100) AS frame
      FROM documents
      JOIN (SELECT unnest(range(0, 64)) AS n) t ON 100*n < length(text)
    )
    SELECT doc_id, frame_idx::INT AS frame_idx,
           length(frame)::INT AS n_samples,
           ROUND(sqrt(list_reduce(
             list_transform(range(1, length(frame) + 1),
                            i -> (ascii(substring(frame, i, 1))
                                  * ascii(substring(frame, i, 1)))::DOUBLE),
             (a, b) -> a + b) / length(frame)), 4) AS rms
    FROM f
    """,
)
def multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame RMS energy over the binary payload (audio-modality
    plumbing, end to end). The oracle recomputes energies from VARCHAR
    char codes — equivalent because the corpus is pure ASCII (byte ==
    char; asserted in tests)."""
    media = documents_as_media(read_table(spark, sf_dir, "documents"))
    return audio_frame_energy(media, frame_bytes=100)


@query(
    "multimodal_scene_cuts",
    """
    WITH f AS (
      SELECT doc_id, n AS frame_idx,
             substring(text, 100*n + 1, 100) AS frame
      FROM documents
      JOIN (SELECT unnest(range(0, 64)) AS n) t ON 100*n < length(text)
    ), e AS (
      SELECT doc_id, frame_idx,
             ROUND(sqrt(list_reduce(
               list_transform(range(1, length(frame) + 1),
                              i -> (ascii(substring(frame, i, 1))
                                    * ascii(substring(frame, i, 1)))::DOUBLE),
               (a, b) -> a + b) / length(frame)), 4) AS rms
      FROM f
    ), d AS (
      SELECT doc_id, frame_idx, rms,
             rms - LAG(rms) OVER (PARTITION BY doc_id ORDER BY frame_idx)
               AS delta
      FROM e
    )
    SELECT doc_id,
           CAST(COUNT(*) FILTER (ABS(delta) > 2.0) AS INT) AS n_cuts,
           CAST(MIN(frame_idx) FILTER (ABS(delta) > 2.0) AS INT)
             AS first_cut_frame
    FROM d GROUP BY doc_id
    """,
)
def multimodal_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection over the framed payload (video-modality
    plumbing): a cut is a frame whose energy jumps more than a threshold
    from its predecessor — the shot-boundary primitive behind
    frame-sampling policies ("sample densely around cuts"). Composes
    `audio_frame_energy` with ONE lag window per document; the
    per-document aggregation reuses the window's doc_id partitioning, so
    the whole detector adds a single shuffle to the (shuffle-free)
    framing pass. Real codecs stay stubbed per the environment contract;
    byte→energy is deterministic, so cuts are oracle-checkable."""
    media = documents_as_media(read_table(spark, sf_dir, "documents"))
    energy = audio_frame_energy(media, frame_bytes=100)
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    delta = (F.col("rms") - F.lag("rms").over(w)).alias("delta")
    d = energy.select("doc_id", "frame_idx", delta)
    is_cut = F.abs(F.col("delta")) > 2.0
    return d.groupBy("doc_id").agg(
        F.sum(F.when(is_cut, 1).otherwise(0)).cast("int").alias("n_cuts"),
        F.min(F.when(is_cut, F.col("frame_idx"))).cast("int").alias("first_cut_frame"),
    )


@pandas_udf(T.LongType())
def _phash64(payloads: pd.Series) -> pd.Series:
    """Perceptual fingerprint over raw media bytes, ssdeep/TLSH-style:
    ±1 sign votes from every byte 4-gram's hash, aggregated to 64 bits.
    Edits perturb only their own grams, so the shared byte mass keeps
    the vote signs stable — measured on this corpus: planted near-dups
    land at hamming ≤ 4 while random pairs sit ≥ 9 (median 20). (A
    chunk-statistic sketch was tried first and discarded: high-entropy
    payloads put chunk sums at the decision boundary, flipping ~25 bits
    between near-dups.) With a real image codec, swap in DCT-pHash; the
    banding/verify plumbing is identical."""

    def one(payload) -> int:
        b = bytes(payload)
        return sign_vote64(b[i : i + 4] for i in range(len(b) - 3))

    return payloads.map(one)


def _phash_oracle() -> str:
    """Generated DuckDB oracle for the perceptual-hash pair path —
    promoted from rows-only for the same reason as SimHash: the sketch
    is pure integer arithmetic. The payload is the UTF-8 bytes of the
    text and the corpus is ASCII (pinned by
    `test_corpus_is_ascii_so_byte_offsets_equal_char_offsets`), so byte
    4-grams equal `substr(text, i, 4)`; votes, signature bits, band keys
    and xor bit_count are all integers — bit-for-bit reproducible."""
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
    WITH g AS (
      SELECT doc_id,
             ('0x' || substr(md5(substr(text, CAST(i AS INT), 4)), 1, 16))::UBIGINT AS h
      FROM (SELECT doc_id, text, unnest(range(1, LENGTH(text) - 2)) AS i
            FROM documents)
    ), v AS (
      SELECT doc_id, {votes}
      FROM g GROUP BY doc_id
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


@query("multimodal_phash_pairs", _phash_oracle())
def multimodal_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup pairs over BINARY media payloads: sketch
    each payload to 64 bits (Arrow-batched pandas UDF — the only Python
    step), then the same banded-hamming candidate join used by SimHash
    (`dedup.banded_hamming_pairs`). The media dedup path of an ingest
    pipeline: byte-identical dups fall to the md5 column; near-identical
    payloads (re-encodes, metadata-stripped copies) fall here. Promoted
    from rows-only to a FULL DuckDB oracle (round 3): the sketch is
    pure integer arithmetic over byte 4-grams, reproduced by a
    generated 64-term SQL (`_phash_oracle`); tests additionally assert
    the planted text near-dups surface as payload near-dups."""
    media = documents_as_media(read_table(spark, sf_dir, "documents"))
    sigs = media.select("doc_id", _phash64(F.col("payload")).alias("ph"))
    return banded_hamming_pairs(sigs, "doc_id", "ph", max_hamming=6)


_PATCH = 16  # bytes per patch ("pixels"); grid row length


def extract_patches(media: DataFrame, patch: int = _PATCH) -> DataFrame:
    """ViT-preprocessing shape: split each payload into a grid of
    fixed-size patches, one ROW per patch with its grid index and a
    checksum of the patch bytes. The row-per-patch layout is what a
    distributed embed step consumes (each patch row → one embedding);
    partition sizing stays byte-bounded because mapInPandas streams the
    payloads through Python once."""

    def _patches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, sums = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                for i in range(0, len(b), patch):
                    ids.append(doc_id)
                    idxs.append(i // patch)
                    sums.append(int(sum(b[i : i + patch])))
            yield pd.DataFrame(
                {"doc_id": ids, "patch_idx": idxs, "patch_sum": sums}
            )

    return media.mapInPandas(
        _patches, schema="doc_id long, patch_idx long, patch_sum long"
    )


@query(
    "multimodal_patch_grid",
    """
    WITH pat AS (
      SELECT doc_id, i AS patch_idx,
             list_reduce(list_transform(
               range(i * 16 + 1, LEAST((i + 1) * 16, LENGTH(text)) + 1),
               p -> ascii(substring(text, p, 1))), (a, b) -> a + b) AS patch_sum
      FROM documents,
           UNNEST(range(0, CAST(CEIL(LENGTH(text) / 16.0) AS BIGINT))) AS t(i)
    )
    SELECT doc_id, patch_idx, patch_sum FROM pat
    """,
)
def multimodal_patch_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Patch-grid extraction over binary payloads (ViT preprocessing
    plumbing): one row per 16-byte patch with its grid index and byte
    sum. The corpus is ASCII so the oracle recomputes patch sums from
    the text characters directly."""
    media = documents_as_media(read_table(spark, sf_dir, "documents"))
    return extract_patches(media)


# ---------------------------------------------------------------------------
# round-7 addition: aspect-ratio bucketing (SDXL-style batch grouping)
# ---------------------------------------------------------------------------

_ASPECT_BUCKETS = (0.5, 0.75, 1.0, 1.3333, 2.0)


def _aspect_case_sql() -> str:
    """Nearest-bucket CASE over |log(ar) − log(b)| — unrolled so DuckDB
    computes the identical argmin the Spark expression tree does."""
    dist = lambda b: f"ABS(LN(ar) - LN({b}))"  # noqa: E731
    lines = []
    for b in _ASPECT_BUCKETS:
        others = " AND ".join(
            f"({dist(b)} < {dist(o)} OR ({dist(b)} = {dist(o)} AND {b} <= {o}))"
            for o in _ASPECT_BUCKETS
            if o != b
        )
        lines.append(f"WHEN {others} THEN {b}")
    return "CASE " + " ".join(lines) + " END"


@query(
    "multimodal_aspect_bucketing",
    f"""
    WITH dims AS (
      SELECT doc_id,
             (64 + octet_length(encode(text)) % 512)::INT AS width,
             (64 + (octet_length(encode(text)) * 31) % 512)::INT AS height
      FROM documents
    ),
    ar AS (
      SELECT doc_id, width, height,
             width / (1.0 * height) AS ar
      FROM dims
    ),
    bucketed AS (
      SELECT doc_id, width, height, ar,
             CAST({_aspect_case_sql()} AS DOUBLE) AS bucket
      FROM ar
    )
    SELECT bucket AS aspect_bucket,
           COUNT(*) AS n_images,
           ROUND(AVG(1 - LEAST(ar / bucket, bucket / ar)), 6) AS mean_crop_waste
    FROM bucketed GROUP BY bucket ORDER BY bucket
    """,
)
def multimodal_aspect_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-ratio bucketing for image-batch training (the SDXL
    recipe): decode each image's dimensions (deterministic fake codec —
    the real-codec stub contract, `decode_image_meta`), snap its aspect
    ratio to the nearest of {len(_ASPECT_BUCKETS)} canonical buckets in
    log space, and report per-bucket volume plus the mean crop waste
    1 − min(ar/b, b/ar) — the fraction of pixels lost when the batch is
    centre-cropped to the bucket shape. The batching sibling of
    [[curation_length_bucket_padding]] (text pads, images crop).

    Exactness: dimensions are exact integer arithmetic on payload
    length; the log-space argmin and waste are per-row expression trees
    with deterministic ≤-tiebreak, rounded 6 after one |buckets|-row
    aggregate of per-row doubles folded... no: AVG of doubles per
    bucket — bucket populations are large, so the mean is rounded 6
    under the float-fold tolerance protocol. Plan: the mapInPandas
    feature pass (real Arrow plumbing), then one ≤5-row groupBy.
    """
    media = documents_as_media(read_table(spark, sf_dir, "documents"))
    feats = extract_image_features(media).select(
        "doc_id", (F.col("width") / (1.0 * F.col("height"))).alias("ar")
    )
    bucket = None
    for b in _ASPECT_BUCKETS:
        d_b = F.abs(F.log("ar") - F.log(F.lit(b)))
        cond = None
        for o in _ASPECT_BUCKETS:
            if o == b:
                continue
            d_o = F.abs(F.log("ar") - F.log(F.lit(o)))
            c = (d_b < d_o) | ((d_b == d_o) & (F.lit(b) <= F.lit(o)))
            cond = c if cond is None else (cond & c)
        bucket = (
            F.when(cond, F.lit(b)) if bucket is None else bucket.when(cond, F.lit(b))
        )
    waste = 1 - F.least(F.col("ar") / F.col("bucket"), F.col("bucket") / F.col("ar"))
    return (
        feats.withColumn("bucket", bucket)
        .groupBy(F.col("bucket").alias("aspect_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.round(F.avg(waste), 6).alias("mean_crop_waste"),
        )
        .orderBy("aspect_bucket")
    )
