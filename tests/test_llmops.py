"""LLM-data operator tests: dedup family consistency (LSH vs brute
force), similarity recall, text ops, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from databricks_end_to_end_lakeflow_project_spark.operators import dedup, multimodal, similarity
from databricks_end_to_end_lakeflow_project_spark.sources.readers import read_table

SF = "/root/testdata/sf0.001"


def _pairset(df, a="doc_a", b="doc_b"):
    return {(r[a], r[b]) for r in df.collect()}


def _exact_pairs_full(spark):
    """FULL-corpus exact Jaccard >= 0.8 pairs (the registry's
    dedup_ngram_jaccard_pairs is bounded to the 256-doc audit sample
    since round 8, so the LSH ground truth is computed inline here —
    the sf0.001 fixture is all-pairs-trivial)."""
    docs = read_table(spark, SF, "documents")
    sh = docs.filter(F.size(F.split(F.trim(F.col("text")), " ")) >= 3).select(
        "doc_id", dedup.shingles(F.col("text")).alias("sh")
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    j = dedup.jaccard(F.col("sh_a"), F.col("sh_b"))
    return a.join(b, F.col("doc_a") < F.col("doc_b")).filter(j >= 0.8).select(
        "doc_a", "doc_b"
    )


def test_minhash_lsh_subset_of_exact_with_high_recall(spark):
    exact = _pairset(_exact_pairs_full(spark))
    lsh = _pairset(dedup.dedup_minhash_lsh_pairs(spark, SF))
    assert lsh <= exact  # verification step guarantees no false positives
    if exact:
        assert len(lsh) / len(exact) >= 0.9


def test_simhash_pairs_overlap_jaccard_near_dups(spark):
    docs = read_table(spark, SF, "documents")
    sim = _pairset(dedup.simhash_pairs(docs, max_hamming=6))
    exact = _pairset(_exact_pairs_full(spark))
    # different sketch, same phenomenon: most Jaccard near-dups are within
    # small simhash hamming distance
    if exact:
        assert len(sim & exact) / len(exact) >= 0.7


def test_ivf_topk_scores_match_brute_force(spark):
    """Every IVF-returned neighbor must carry its exact brute-force cosine
    and respect the brute-force ordering over the probed subset."""
    exact = {
        r["vec_id"]: r["cos_sim"]
        for r in similarity.sim_cosine_topk(spark, SF).collect()
    }
    ivf = similarity.sim_ivf_topk(spark, SF).collect()
    assert len(ivf) == 10
    sims = [r["cos_sim"] for r in ivf]
    assert sims == sorted(sims, reverse=True)
    for r in ivf:
        if r["vec_id"] in exact:  # overlap with global top-10 → same score
            assert r["cos_sim"] == exact[r["vec_id"]]


def test_ann_buckets_subset_and_recall(spark):
    exact = _pairset(similarity.sim_embedding_near_dup_pairs(spark, SF), "vec_a", "vec_b")
    ann = _pairset(similarity.sim_ann_hyperplane_buckets(spark, SF), "vec_a", "vec_b")
    assert ann <= exact
    if exact:
        assert len(ann) / len(exact) >= 0.9


def test_cosine_topk_matches_numpy(spark):
    import numpy as np

    em = read_table(spark, SF, "embeddings")
    rows = em.collect()
    V = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    q = V[0]
    sims = {
        vid: float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
        for vid, v in V.items()
        if vid != 0
    }
    expected = sorted(sims, key=lambda k: (-round(sims[k], 6), k))[:10]
    got = [r["vec_id"] for r in similarity.sim_cosine_topk(spark, SF).collect()]
    assert got == expected


def test_multimodal_decode_stub_raises_without_codec():
    with pytest.raises(NotImplementedError):
        multimodal.decode_image_meta(b"bytes")


def test_multimodal_frame_sampling(spark):
    docs = read_table(spark, SF, "documents").limit(20)
    media = multimodal.documents_as_media(docs)
    frames = multimodal.sample_frames(media, every_n_bytes=100)
    joined = (
        frames.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_frames"), F.max("frame_offset").alias("max_off"))
        .join(media.select("doc_id", "byte_len"), "doc_id")
    )
    for r in joined.collect():
        expected = (r["byte_len"] + 99) // 100
        assert r["n_frames"] == expected
        assert r["max_off"] == (expected - 1) * 100
    probe = frames.select(F.octet_length("frame_probe").alias("n")).agg(F.max("n")).collect()[0][0]
    assert probe <= 16


def test_media_table_schema(spark):
    media = multimodal.documents_as_media(read_table(spark, SF, "documents"))
    assert dict(media.dtypes)["payload"] == "binary"
    assert media.filter(F.col("byte_len") != F.octet_length("payload")).count() == 0


def test_connected_components_hand_graph(spark):
    """Two components + a singleton; labels converge to min node id."""
    from databricks_end_to_end_lakeflow_project_spark.operators.dedup import (
        connected_components,
    )

    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 7, 8, 9, 42]], "node long")
    # chain 1-2-3, pair 7-8-9 via 9-7/8-9 (arbitrary orientation), 42 alone
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (9, 7), (8, 9)], "src long, dst long"
    )
    got = {r["node"]: r["component"] for r in connected_components(nodes, edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 9: 7, 42: 42}


def test_corpus_is_ascii_so_byte_offsets_equal_char_offsets(spark):
    """multimodal_frame_sample's oracle slices VARCHAR; the Spark side
    slices bytes. Equivalence requires a pure-ASCII corpus — assert it."""
    docs = read_table(spark, SF, "documents")
    from pyspark.sql import functions as F

    n_non_ascii = docs.filter(
        F.octet_length(F.encode("text", "UTF-8")) != F.length("text")
    ).count()
    assert n_non_ascii == 0


def test_multimodal_resize_halves_dims_and_payload(spark):
    docs = read_table(spark, SF, "documents").limit(50)
    media = multimodal.documents_as_media(docs)
    src = {r["doc_id"]: r for r in multimodal.extract_image_features(media).collect()}
    for r in multimodal.resize_images(media, scale_den=2).collect():
        s = src[r["doc_id"]]
        assert r["width"] == s["width"] // 2
        assert r["height"] == s["height"] // 2
        assert len(r["payload"]) == max(1, s["byte_len"] // 2)


def test_quantized_cosine_within_2pct_of_exact(spark):
    """int8 quantization must not move any cosine by more than 0.02, and
    the quantized top-10 must share ≥8 of the exact top-10 (recall 0.8+
    on this corpus — in practice it is 10/10)."""
    from databricks_end_to_end_lakeflow_project_spark.operators.similarity import (
        sim_cosine_topk,
        sim_quantized_cosine_topk,
    )

    rows = sim_quantized_cosine_topk(spark, SF).collect()
    for r in rows:
        assert abs(r["cos_q"] - r["cos_exact"]) < 0.02, r
    exact_ids = {r["vec_id"] for r in sim_cosine_topk(spark, SF).collect()}
    quant_ids = {r["vec_id"] for r in rows}
    assert len(exact_ids & quant_ids) >= 8


def test_gemm_topk_prune_is_lossless_across_batch_sizes(spark):
    """The per-batch local top-k prune must not lose global results:
    forcing many small Arrow batches (50 rows) yields exactly the same
    top-k set as one big batch."""
    from databricks_end_to_end_lakeflow_project_spark.operators.similarity import (
        sim_gemm_batch_topk,
    )

    sf = "/root/testdata/sf0.01"
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    big = {tuple(r) for r in sim_gemm_batch_topk(spark, sf).collect()}
    try:
        spark.conf.set(key, "50")
        small = {tuple(r) for r in sim_gemm_batch_topk(spark, sf).collect()}
    finally:
        spark.conf.set(key, old)
    assert big == small
    assert len(big) == 40  # 8 queries × top-5


def test_bm25_known_query_path_is_shuffle_free(spark):
    """BM25 for a known query must not explode tokens or shuffle DOC
    rows: per-term tf is codegen'd inside the scan and the top-k is a
    TakeOrdered. Since the r9 jobless-builder change the corpus
    constants (N, avgdl, df) are computed INSIDE the measured plan —
    a scalar aggregate whose partials meet at an Exchange
    SinglePartition (one 5-number row per input partition) and ride a
    1-row BroadcastExchange — so the guard now pins 'no doc-row
    shuffle' precisely: no hashpartitioning/rangepartitioning Exchange
    anywhere, nothing but the scalar-agg SinglePartition and the 1-row
    broadcast."""
    from databricks_end_to_end_lakeflow_project_spark.operators.textops import (
        text_bm25_topk,
    )

    df = text_bm25_topk(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert "Generate" not in plan  # no explode
    rows = df.collect()
    assert len(rows) == 10
    scores = [r["bm25"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(s >= 0 for s in scores)


def test_tfidf_keywords_per_doc_ranking(spark):
    """Every doc gets at most 3 keywords, ranked by tfidf descending, and
    a term occurring in EVERY document (idf=0) can never outrank one with
    positive tfidf."""
    from databricks_end_to_end_lakeflow_project_spark.operators.textops import (
        text_tfidf_keywords,
    )

    out = text_tfidf_keywords(spark, "/root/testdata/sf0.001").collect()
    per_doc: dict[int, list] = {}
    for r in out:
        per_doc.setdefault(r["doc_id"], []).append(r)
    assert all(len(v) <= 3 for v in per_doc.values())
    for rows in per_doc.values():
        scores = [r["tfidf"] for r in rows]
        assert scores == sorted(scores, reverse=True)
        # zero-idf terms only surface after all positive-tfidf terms
        first_zero = next((i for i, s in enumerate(scores) if s == 0), len(scores))
        assert all(s > 0 for s in scores[:first_zero])


def test_redact_pii_no_residual_matches(spark):
    """Every planted email/URL/SSN is counted once and fully scrubbed."""
    import re

    from databricks_end_to_end_lakeflow_project_spark.operators.textops import (
        text_redact_pii,
    )

    rows = text_redact_pii(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert (r["n_email"], r["n_url"], r["n_ssn"]) == (1, 1, 1)
        assert "<EMAIL>" in r["redacted"] and "<URL>" in r["redacted"]
        assert "<SSN>" in r["redacted"]
        assert not re.search(r"[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}", r["redacted"])
        assert not re.search(r"https?://", r["redacted"])
        assert not re.search(r"[0-9]{3}-[0-9]{2}-[0-9]{4}", r["redacted"])


def test_entropy_bounds(spark):
    """0 <= token entropy <= ln(n_tokens); single-token-type docs score 0."""
    import math

    from databricks_end_to_end_lakeflow_project_spark.operators.textops import (
        text_entropy_quality,
    )

    for r in text_entropy_quality(spark, "/root/testdata/sf0.001").collect():
        # +5e-5: the operator reports entropy rounded to 4 decimals
        assert -5e-5 <= r["token_entropy"] <= math.log(r["n_tokens"]) + 5e-5


def test_centroid_outliers_are_per_label_minima(spark):
    from databricks_end_to_end_lakeflow_project_spark.operators.similarity import (
        sim_centroid_outliers,
    )

    rows = sim_centroid_outliers(spark, "/root/testdata/sf0.001").collect()
    per_label: dict[int, list] = {}
    for r in rows:
        per_label.setdefault(r["label"], []).append(r["cos_centroid"])
    assert per_label and all(len(v) == 5 for v in per_label.values())
    # cosines lie in [-1, 1]
    assert all(-1.0001 <= s <= 1.0001 for v in per_label.values() for s in v)


def test_jl_projection_preserves_distances_on_average(spark):
    """JL with ±1 signs: squared norms are preserved in expectation —
    check the mean ratio over the corpus is within 25% of 1, and the
    output is invariant to input partitioning."""
    import numpy as np

    from databricks_end_to_end_lakeflow_project_spark.operators.similarity import (
        jl_project,
    )

    em = read_table(spark, SF, "embeddings")
    proj = jl_project(em, in_dim=64).collect()
    by_vec: dict[int, dict[int, float]] = {}
    for r in proj:
        by_vec.setdefault(r["vec_id"], {})[r["dim_idx"]] = r["val"]
    orig = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in em.collect()}
    ratios = []
    for vid, dims in by_vec.items():
        p = np.array([dims[i] for i in range(16)])
        n0 = float(np.dot(orig[vid], orig[vid]))
        if n0 > 0:
            ratios.append(float(np.dot(p, p)) / n0)
    assert 0.75 <= float(np.mean(ratios)) <= 1.25

    re = {(r["vec_id"], r["dim_idx"], r["val"])
          for r in jl_project(em.repartition(7), in_dim=64).collect()}
    assert re == {(r["vec_id"], r["dim_idx"], r["val"]) for r in proj}


def test_zipf_exponent_sane_on_corpus(spark):
    """The synthetic corpus is word-salad over a small vocabulary, so the
    fit exists but the exponent is small; real checks: one row per lang,
    exponent > 0 (frequency strictly decreases with rank on average) and
    R² in [0, 1]."""
    from databricks_end_to_end_lakeflow_project_spark.operators.textops import (
        text_zipf_exponent,
    )

    rows = text_zipf_exponent(spark, SF).collect()
    assert len(rows) == len({r["lang"] for r in rows}) >= 4
    for r in rows:
        assert r["zipf_exponent"] > 0
        assert 0.0 <= r["fit_r2"] <= 1.0
        assert r["n_types"] > 10


def test_survivor_by_quality_beats_or_ties_canonical(spark):
    """The quality-kept doc must have quality >= every other member of
    its cluster; cluster partition must agree with dedup_cluster_assign."""
    from databricks_end_to_end_lakeflow_project_spark.operators.dedup import (
        dedup_cluster_assign,
        dedup_survivor_by_quality,
    )
    from databricks_end_to_end_lakeflow_project_spark.operators.textops import (
        text_quality_score,
    )

    quality = {r["doc_id"]: r["quality_score"]
               for r in text_quality_score(spark, SF).collect()}
    clusters: dict[int, list[int]] = {}
    for r in dedup_cluster_assign(spark, SF).collect():
        clusters.setdefault(r["cluster_id"], []).append(r["doc_id"])
    kept = {r["cluster_id"]: r["kept_doc_id"]
            for r in dedup_survivor_by_quality(spark, SF).collect()}
    assert set(kept) == set(clusters)
    for cid, members in clusters.items():
        assert kept[cid] in members
        # rounded scores can tie; the kept doc is >= all members at 4dp
        assert all(quality[kept[cid]] >= quality[m] - 1e-9 for m in members)


def test_fuzzy_pairs_equal_unblocked_bruteforce(spark):
    """The length-band blocking must lose nothing: same pair set as an
    unblocked all-pairs levenshtein join."""
    from databricks_end_to_end_lakeflow_project_spark.operators.textops import (
        text_fuzzy_token_pairs,
        tokens,
    )

    got = {(r["token_a"], r["token_b"]) for r in
           text_fuzzy_token_pairs(spark, SF).collect()}
    docs = read_table(spark, SF, "documents")
    vocab = [r["token"] for r in
             docs.select(F.explode(tokens(F.col("text"))).alias("token"))
                 .filter(F.length("token") >= 3).distinct().collect()]
    import itertools

    def lev(s, t):
        if len(s) < len(t):
            s, t = t, s
        prev = list(range(len(t) + 1))
        for i, cs in enumerate(s, 1):
            cur = [i]
            for j, ct in enumerate(t, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (cs != ct)))
            prev = cur
        return prev[-1]

    want = {(a, b) for a, b in itertools.combinations(sorted(vocab), 2)
            if lev(a, b) <= 2}
    assert got == want and got


def test_unigram_nll_bounds_and_monotonicity(spark):
    """NLL >= ln(total/max_token_count) lower bound is loose; check the
    hard invariants instead: nll > 0, ppl == exp(nll) at 2dp tolerance,
    and a doc of only the most common token would floor the score."""
    import math

    from databricks_end_to_end_lakeflow_project_spark.operators.textops import (
        text_unigram_nll,
    )

    rows = text_unigram_nll(spark, SF).collect()
    assert rows
    for r in rows:
        assert r["nll"] > 0
        assert abs(r["ppl"] - math.exp(r["nll"])) <= 0.01 * max(1.0, r["ppl"])


def test_audio_energy_frames_tile_payload(spark):
    """Frames tile each payload exactly: count == ceil(len/100), all full
    frames have 100 samples, rms in [0, 255]."""
    from databricks_end_to_end_lakeflow_project_spark.operators.multimodal import (
        audio_frame_energy,
        documents_as_media,
    )

    media = documents_as_media(read_table(spark, SF, "documents").limit(30))
    lens = {r["doc_id"]: r["byte_len"]
            for r in media.select("doc_id", "byte_len").collect()}
    frames = audio_frame_energy(media, frame_bytes=100).collect()
    per_doc: dict[int, list] = {}
    for r in frames:
        per_doc.setdefault(r["doc_id"], []).append(r)
    assert set(per_doc) == set(lens)
    for doc_id, rows in per_doc.items():
        assert len(rows) == (lens[doc_id] + 99) // 100
        for r in rows:
            full = r["frame_idx"] < len(rows) - 1
            assert r["n_samples"] == (100 if full else lens[doc_id] - 100 * r["frame_idx"])
            assert 0 <= r["rms"] <= 255


class TestProductQuantization:
    def test_pq_adc_matches_numpy_and_recall(self, spark):
        """ADC arithmetic must equal a numpy reimplementation; the
        reranked top-10 carries EXACT cosine scores; recall@10 vs brute
        force is a fixed property of the deterministic pipeline."""
        import numpy as np

        from databricks_end_to_end_lakeflow_project_spark.operators.similarity import (
            _PQ_M,
            _PQ_SUBDIM,
            pq_adc_table,
            pq_encode,
            pq_train,
            sim_cosine_topk,
            sim_pq_adc_topk,
        )
        from databricks_end_to_end_lakeflow_project_spark.sources.readers import (
            read_table,
        )

        sf = "/root/testdata/sf0.001"
        em = read_table(spark, sf, "embeddings")
        codebook = pq_train(em)
        codes = {r["vec_id"]: r["codes"] for r in pq_encode(em, codebook).collect()}
        vecs = {
            r["vec_id"]: np.asarray(r["embedding"], dtype=float)
            for r in em.collect()
        }
        # codes well-formed
        for cs in codes.values():
            assert len(cs) == _PQ_M and all(0 <= c < 16 for c in cs)
        # numpy ADC reimplementation agrees with the Spark-side scoring
        q = vecs[0] / np.linalg.norm(vecs[0])
        table = pq_adc_table(vecs[0], codebook)
        # encode agrees with nearest-codeword by hand for a few vectors
        for vid in list(codes)[:5]:
            v = vecs[vid] / np.linalg.norm(vecs[vid])
            for m in range(_PQ_M):
                sub = v[m * _PQ_SUBDIM : (m + 1) * _PQ_SUBDIM]
                d2 = [
                    float(np.sum((sub - np.asarray(cw)) ** 2))
                    for cw in codebook[m]
                ]
                assert codes[vid][m] == int(np.argmin(d2))
        # end-to-end: exact rerank scores + recall floor
        pq_rows = sim_pq_adc_topk(spark, sf).collect()
        bf = {r["vec_id"]: r["cos_sim"] for r in sim_cosine_topk(spark, sf).collect()}
        for r in pq_rows:
            adc_np = sum(table[m][codes[r["vec_id"]][m]] for m in range(_PQ_M))
            assert abs(r["adc_dist"] - round(adc_np, 6)) <= 1e-6
            want = float(
                q @ (vecs[r["vec_id"]] / np.linalg.norm(vecs[r["vec_id"]]))
            )
            assert abs(r["cos_sim"] - round(want, 6)) <= 1e-6
        recall = len({r["vec_id"] for r in pq_rows} & set(bf)) / 10
        assert recall >= 0.6

    def test_pq_train_partition_invariant(self, spark):
        """The fitted codebook must be identical no matter how the data
        is partitioned (partial sums are exact, order-free combines)."""
        import numpy as np

        from databricks_end_to_end_lakeflow_project_spark.operators.similarity import (
            pq_train,
        )
        from databricks_end_to_end_lakeflow_project_spark.sources.readers import (
            read_table,
        )

        sf = "/root/testdata/sf0.001"
        em = read_table(spark, sf, "embeddings")
        a = np.asarray(pq_train(em))
        b = np.asarray(pq_train(em.repartition(7)))
        assert np.allclose(a, b, atol=1e-12)


def test_incremental_delta_pairs_equal_filtered_full_run(spark):
    """Incremental (delta-touching) LSH pairs must equal the full-corpus
    LSH run filtered to pairs touching the delta — and contain no
    base-only pair."""
    from pyspark.sql import functions as F

    from databricks_end_to_end_lakeflow_project_spark.operators.dedup import (
        incremental_lsh_delta_pairs,
        minhash_lsh_pairs,
    )
    from databricks_end_to_end_lakeflow_project_spark.sources.readers import read_table

    sf = "/root/testdata/sf0.001"
    docs = read_table(spark, sf, "documents")
    cut = 40  # sf0.001 has 50 docs
    inc = {
        (r["doc_a"], r["doc_b"], r["jaccard_sim"])
        for r in incremental_lsh_delta_pairs(docs, F.col("doc_id") >= cut).collect()
    }
    full = {
        (r["doc_a"], r["doc_b"], r["jaccard_sim"])
        for r in minhash_lsh_pairs(docs).collect()
        if r["doc_a"] >= cut or r["doc_b"] >= cut
    }
    assert inc == full
    assert all(a >= cut or b >= cut for a, b, _ in inc)


def test_semdedup_pairs_subset_of_bruteforce_and_reps_minimal(spark):
    """SemDeDup's duplicate groups must (a) only contain vectors that
    really have a ≥0.42-cosine partner in the brute-force pair set
    restricted to its cell (no false positives), (b) name the smallest
    vec_id of each component as the kept representative, and (c) recover
    most of the brute-force near-dup mass (cell-split losses only)."""
    out = similarity.dedup_semdedup_keep(spark, SF).collect()
    brute = similarity.sim_embedding_near_dup_pairs(spark, SF).collect()
    in_pairs = {r["vec_a"] for r in brute} | {r["vec_b"] for r in brute}
    grouped = {r["vec_id"] for r in out}
    # no false positives: every grouped vector is in some brute-force pair
    assert grouped <= in_pairs
    # representative is the component minimum and marked keep
    by_rep: dict[int, list] = {}
    for r in out:
        by_rep.setdefault(r["rep_id"], []).append(r)
    for rep, members in by_rep.items():
        assert min(m["vec_id"] for m in members) == rep
        assert all(m["keep"] == (m["vec_id"] == rep) for m in members)
    # recall: cell-bucketing may split some pairs, most mass retained
    if in_pairs:
        assert len(grouped) / len(in_pairs) >= 0.6


def test_bigram_nll_positive_and_sharper_than_unigram(spark):
    """Interpolated-bigram training NLL must be positive (p < 1 always)
    and, corpus-wide, below the unigram NLL: conditioning on the
    previous word can only reduce MLE entropy (H(W₂|W₁) ≤ H(W₂)), and
    the 0.3 unigram interpolation floor bounds the loss of mixing."""
    from databricks_end_to_end_lakeflow_project_spark.operators.textops import (
        text_bigram_nll,
        text_unigram_nll,
    )

    bi = {r["doc_id"]: r["nll"] for r in text_bigram_nll(spark, SF).collect()}
    un = {r["doc_id"]: r["nll"] for r in text_unigram_nll(spark, SF).collect()}
    assert all(v > 0 for v in bi.values())
    common = set(bi) & set(un)
    assert common
    assert sum(bi[d] for d in common) / len(common) < sum(un[d] for d in common) / len(common)


def test_phash_media_pairs_surface_text_near_dups(spark):
    """The planted text near-dups must also surface as payload (pHash)
    near-dups — the media-bytes mirror of the SimHash banding path —
    with small hamming distances, and every reported pair must respect
    the hamming cap."""
    from databricks_end_to_end_lakeflow_project_spark.operators.multimodal import (
        multimodal_phash_pairs,
    )

    ph = _pairset(multimodal_phash_pairs(spark, SF))
    exact = _pairset(dedup.dedup_ngram_jaccard_pairs(spark, SF))
    assert exact
    recall = len(ph & exact) / len(exact)
    assert recall >= 0.8


def test_head_middle_tail_ordering(spark):
    """Within each language: head avg NLL < middle < tail, buckets are
    complete, and doc counts differ by at most one (NTILE balance)."""
    from databricks_end_to_end_lakeflow_project_spark.operators.textops import (
        text_head_middle_tail,
    )

    rows = text_head_middle_tail(spark, SF).collect()
    by_lang: dict[str, dict[str, object]] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], {})[r["bucket"]] = r
    for lang, b in by_lang.items():
        assert set(b) == {"head", "middle", "tail"}, lang
        assert b["head"]["avg_nll"] < b["middle"]["avg_nll"] < b["tail"]["avg_nll"]
        counts = [b[k]["n_docs"] for k in ("head", "middle", "tail")]
        assert max(counts) - min(counts) <= 1


def test_semdedup_full_recall_on_clustered_corpus(spark):
    """On a CLUSTERED corpus — the case SemDeDup is designed for — the
    cell quantizer must not split any near-dup pair: recall vs the
    brute-force edge set is exactly 1.0, while candidate work stays
    sub-quadratic (every cluster lands inside one probed cell)."""
    import numpy as np
    from databricks_end_to_end_lakeflow_project_spark.operators.similarity import (
        semdedup_edges,
    )

    rng = np.random.default_rng(11)
    vecs = []
    # 3 tight clusters of 12 + 40 isotropic noise vectors
    for _ in range(3):
        center = rng.standard_normal(64)
        center /= np.linalg.norm(center)
        for _ in range(12):
            vecs.append(center + 0.08 * rng.standard_normal(64))
    for _ in range(40):
        vecs.append(rng.standard_normal(64))
    # shuffle so the first-8 seed heuristic sees a spread of the corpus,
    # and round to float32 exactly as the array<float> column stores it
    order = rng.permutation(len(vecs))
    rows = [
        (vid, [float(np.float32(x)) for x in vecs[j]])
        for vid, j in enumerate(order)
    ]
    em = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    # brute-force ground truth at the same threshold
    M = np.stack([np.array(r[1], dtype=np.float64) for r in rows])
    M /= np.linalg.norm(M, axis=1, keepdims=True)
    S = M @ M.T
    iu = np.triu_indices(len(rows), 1)
    truth = {
        (int(iu[0][k]), int(iu[1][k]))
        for k in range(len(iu[0]))
        if S[iu[0][k], iu[1][k]] >= 0.42
    }
    assert truth  # clusters guarantee near-dup pairs exist

    seeds = sorted(
        (r["vec_id"], r["embedding"])
        for r in em.filter(em.vec_id < 8).collect()
    )
    got = {
        (min(r["src"], r["dst"]), max(r["src"], r["dst"]))
        for r in semdedup_edges(em, seeds).collect()
    }
    assert got <= truth  # exact verify ⇒ no false positives
    # the designed-for case: every WITHIN-CLUSTER pair is recovered —
    # tight clusters land whole inside a probed cell. (Chance noise-noise
    # pairs that barely cross the threshold may legitimately split.)
    cluster_of = {vid: (j // 12 if j < 36 else None) for vid, j in enumerate(order)}
    cluster_pairs = {
        p for p in truth
        if cluster_of[p[0]] is not None and cluster_of[p[0]] == cluster_of[p[1]]
    }
    assert cluster_pairs and cluster_pairs <= got
    # overall recall stays high even counting the noise tail
    assert len(got) / len(truth) >= 0.95


def test_semdedup_hot_cell_block_decomposition(spark):
    """Skewed-cell guard: with every vector forced into ONE cell and
    max_cell far below the cell size, the block-pair decomposition must
    (a) keep every Arrow group at ≤ 2·max_cell rows and (b) still return
    EXACTLY the brute-force edge set — block matmul loses no within-cell
    pair, unlike cap-or-sample guards."""
    import numpy as np
    from databricks_end_to_end_lakeflow_project_spark.operators.similarity import (
        _chunked_cell_assignment,
        semdedup_edges,
    )
    from pyspark.sql import functions as F2

    rng = np.random.default_rng(23)
    base = rng.standard_normal(64)
    base /= np.linalg.norm(base)
    # one hot direction: all 200 vectors correlate with the seed, so a
    # single seed + n_probe=1 puts the WHOLE corpus into one cell
    rows = [
        (i, [float(np.float32(x)) for x in (base + 0.09 * rng.standard_normal(64))])
        for i in range(200)
    ]
    em = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    seeds = [(0, rows[0][1])]

    tau, max_cell = 0.55, 32
    got = {
        (r["src"], r["dst"])
        for r in semdedup_edges(em, seeds, n_probe=1, tau=tau, max_cell=max_cell).collect()
    }

    M = np.stack([np.array(r[1], dtype=np.float64) for r in rows])
    M /= np.linalg.norm(M, axis=1, keepdims=True)
    S = M @ M.T
    truth = {
        (a, b)
        for a in range(200)
        for b in range(a + 1, 200)
        if S[a, b] >= tau
    }
    assert truth and got == truth

    # bounded per-group memory, proven on the actual grouped frame
    assigned = em.select(
        "vec_id", "embedding", F2.lit(0).alias("cell")
    )
    sizes = (
        _chunked_cell_assignment(assigned, max_cell)
        .groupBy("cell", "c1", "c2")
        .count()
        .collect()
    )
    assert len(sizes) > 1  # the hot cell really was decomposed
    assert max(r["count"] for r in sizes) <= 2 * max_cell


def _boilerplate_corpus(spark, n=90, seed=3):
    """A corpus engineered to overflow LSH buckets: `n` near-identical
    boilerplate docs (bucket size ~n ≫ max_bucket) plus a handful of
    distinct docs."""
    import random

    random.seed(seed)
    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    rows = []
    for i in range(n):
        # tiny tail variation: high-Jaccard near-dups sharing most bands
        rows.append((i, base + f"suffix {random.choice('abc')}"))
    for i in range(n, n + 5):
        rows.append((i, f"completely different document number {i} " * 6))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_lsh_hot_bucket_split_full_recall(spark):
    """When buckets overflow max_bucket, overflow='split' (the default)
    must keep EXACT parity with brute force — the block-pair
    decomposition loses nothing — while the stats query confirms the cap
    actually engaged on this fixture."""
    docs = _boilerplate_corpus(spark)
    stats = dedup.minhash_lsh_stats(docs, max_bucket=20)
    assert stats["n_buckets_capped"] > 0, "fixture must overflow the cap"

    # brute-force baseline computed inline (same shingles/threshold)
    sh = docs.select("doc_id", dedup.shingles(F.col("text")).alias("sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    j = dedup.jaccard(F.col("sh_a"), F.col("sh_b"))
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in a.join(b, F.col("doc_a") < F.col("doc_b"))
        .filter(j >= 0.8)
        .select("doc_a", "doc_b")
        .collect()
    }
    split = _pairset(dedup.minhash_lsh_pairs(docs, max_bucket=20))
    assert split <= exact
    # near-identical docs share essentially all bands → recall ~1 here
    assert split == exact, (
        f"split mode lost {len(exact - split)} of {len(exact)} pairs"
    )
    spark.catalog.clearCache()


def test_lsh_hot_bucket_drop_warns_and_is_subset(spark):
    """overflow='drop' must surface the cap as a UserWarning with bucket
    and pair counts — never a silent recall loss — and can only shrink
    the pair set vs split mode."""
    docs = _boilerplate_corpus(spark)
    with pytest.warns(UserWarning, match="dropped .* hot buckets"):
        dropped = _pairset(
            dedup.minhash_lsh_pairs(docs, max_bucket=20, overflow="drop")
        )
    split = _pairset(dedup.minhash_lsh_pairs(docs, max_bucket=20))
    assert dropped <= split
    assert len(dropped) < len(split), "fixture's hot bucket must cost pairs in drop mode"
    spark.catalog.clearCache()


@pytest.mark.parametrize("sizes,chunk", [([1], 3), ([2, 5], 2), ([7], 3), ([23, 4, 11], 5), ([60], 7)])
def test_split_bucket_pairs_exact_coverage(spark, sizes, chunk):
    """Property: the block-pair decomposition emits EVERY i<j pair of
    each bucket exactly once — ΣC(B,2) pairs, no dups, doc_a < doc_b —
    for bucket sizes below, at, and far above the chunk size."""
    from itertools import combinations

    from databricks_end_to_end_lakeflow_project_spark.operators.dedup import (
        _split_bucket_pairs,
    )

    rows, want = [], set()
    base = 0
    for b, n in enumerate(sizes):
        docs = [base + i for i in range(n)]
        base += 1000
        rows.append((b, docs))
        want |= set(combinations(docs, 2))
    over = spark.createDataFrame(rows, "band_hash int, docs array<bigint>")
    got = [(r["doc_a"], r["doc_b"]) for r in _split_bucket_pairs(over, chunk).collect()]
    assert len(got) == len(set(got)) == len(want)
    assert set(got) == want
    assert all(a < b for a, b in got)


def test_c4_span_dedup_hand_corpus(spark, monkeypatch):
    """Planted duplicate spans: doc 0 and doc 1 share an identical
    10-word span; first occurrence (doc 0) keeps it, doc 1 loses it;
    unique spans all survive."""
    from databricks_end_to_end_lakeflow_project_spark.operators import textops

    shared = " ".join(f"w{i}" for i in range(10))
    uniq1 = " ".join(f"a{i}" for i in range(10))
    uniq2 = " ".join(f"b{i}" for i in range(7))  # partial tail span
    rows = [
        (0, f"{shared} {uniq1}", "en", "s0", 0),
        (1, f"{shared} {uniq2}", "en", "s1", 0),
        (2, shared, "en", "s1", 0),  # whole doc is the duplicate span
    ]
    fake = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(textops, "read_table", lambda s, d, n: fake)
    got = {r["source"]: r for r in textops.text_dedup_span_c4(spark, "ignored").collect()}
    # s0: doc 0 = first occurrence of shared + uniq1 → nothing removed
    assert got["s0"]["n_spans"] == 2 and got["s0"]["n_removed"] == 0
    assert got["s0"]["retained_words"] == 20
    # s1: doc 1 loses the shared span, keeps the 7-word tail;
    #     doc 2 loses its only span entirely
    assert got["s1"]["n_spans"] == 3 and got["s1"]["n_removed"] == 2
    assert got["s1"]["retained_words"] == 7


def test_c4_delta_equals_full_run_restricted(spark, monkeypatch):
    """Incremental contract: because base doc_ids precede delta doc_ids,
    the delta-vs-index verdict must equal the ONE-SHOT full-corpus C4
    accounting restricted to delta rows. Verified on a hand corpus
    engineered with base-delta, delta-delta and delta-unique spans."""
    from databricks_end_to_end_lakeflow_project_spark.operators import textops

    sp = lambda tag: " ".join(f"{tag}{i}" for i in range(10))
    rows = [
        # base (< 400)
        (0, f"{sp('x')} {sp('y')}", "en", "s0", 0),
        (1, sp("z"), "en", "s1", 0),
        # delta (>= 400)
        (400, f"{sp('x')} {sp('n')}", "en", "s0", 0),   # x dup vs base, n new
        (401, f"{sp('n')} {sp('z')}", "en", "s1", 0),   # n dup within delta, z dup vs base
        (402, sp("q"), "en", "s1", 0),                  # unique
    ]
    fake = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(textops, "read_table", lambda s, d, n: fake)
    got = {r["source"]: r for r in textops.text_dedup_span_c4_delta(spark, "x").collect()}
    # s0 delta: doc 400 → spans x (dropped: in base), n (kept, first in delta)
    assert got["s0"]["n_spans"] == 2 and got["s0"]["n_removed"] == 1
    assert got["s0"]["retained_words"] == 10
    # s1 delta: doc 401 → n (dropped: doc 400 was first), z (dropped: base);
    #           doc 402 → q kept
    assert got["s1"]["n_spans"] == 3 and got["s1"]["n_removed"] == 2
    assert got["s1"]["retained_words"] == 10

    # cross-check vs the one-shot full-corpus accounting: full removed
    # count minus base-only removals == delta removals
    full = {r["source"]: r for r in textops.text_dedup_span_c4(spark, "x").collect()}
    base_only = spark.createDataFrame(
        [r for r in rows if r[0] < 400],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    monkeypatch.setattr(textops, "read_table", lambda s, d, n: base_only)
    base = {r["source"]: r for r in textops.text_dedup_span_c4(spark, "x").collect()}
    for s in ("s0", "s1"):
        assert got[s]["n_removed"] == full[s]["n_removed"] - base.get(
            s, {"n_removed": 0}
        )["n_removed"]


def test_minhash_mersenne_fold_equals_mod():
    """The r9 signature-kernel rewrite replaces ``(a·h + b) % P`` with a
    two-step Mersenne fold (P = 2³¹−1). Pin fold == ``%`` on the exact
    domain the kernel sees (x = a·h + b < P² + P), including the
    adversarial boundary values a plain random sweep would miss: 0,
    P−1, P, P+1, 2P, k·P around the fold carries, and the maximum
    product."""
    import numpy as np

    from databricks_end_to_end_lakeflow_project_spark.operators.dedup import _P

    p64 = np.int64(_P)

    def fold(x):
        x = (x & p64) + (x >> 31)
        x = (x & p64) + (x >> 31)
        return np.where(x >= p64, x - p64, x)

    edges = [0, 1, _P - 1, _P, _P + 1, 2 * _P - 1, 2 * _P, 2 * _P + 1]
    edges += [k * _P for k in (3, 2**20, 2**30)]
    edges += [(_P - 1) * (_P - 1) + (_P - 1), _P * _P - 1, _P * _P + _P - 1]
    x = np.array(edges, dtype=np.int64)
    assert np.array_equal(fold(x), x % p64)

    rng = np.random.default_rng(20260817)
    a = rng.integers(1, _P, 2000, dtype=np.int64)
    h = rng.integers(0, _P, 2000, dtype=np.int64)
    b = rng.integers(0, _P, 2000, dtype=np.int64)
    x = a * h + b
    assert np.array_equal(fold(x), x % p64)


def test_minhash_signature_numpy_matches_jvm_arithmetic(spark):
    """The vectorized numpy signature kernel must be bit-identical to
    the JVM long-arithmetic formulation (explode + 64 min() aggregates)
    it replaced — int64-exact because h < P and a,b < P keep a*h+b under
    2^63. Also pins the empty-shingle-drop semantics of the old explode."""
    from pyspark.sql import functions as F

    from databricks_end_to_end_lakeflow_project_spark.operators.dedup import (
        _N_PERM,
        _P,
        _perm_params,
        minhash_signatures,
        shingle_hashes,
        shingles,
    )
    from databricks_end_to_end_lakeflow_project_spark.sources.readers import read_table

    docs = read_table(spark, SF, "documents")
    sh = docs.filter(F.size(F.split(F.trim(F.col("text")), " ")) >= 3).select(
        "doc_id", shingles(F.col("text")).alias("sh")
    )
    got = {r["doc_id"]: r["sig"] for r in minhash_signatures(sh).collect()}

    hashed = sh.select("doc_id", F.explode(shingle_hashes(F.col("sh"))).alias("h"))
    mins = []
    for i in range(_N_PERM):
        a, b = _perm_params(i)
        mins.append(F.min((F.lit(a) * F.col("h") + F.lit(b)) % _P).alias(f"m{i}"))
    ref = {
        r["doc_id"]: [r[f"m{i}"] for i in range(_N_PERM)]
        for r in hashed.groupBy("doc_id").agg(*mins).collect()
    }
    assert got == ref


def test_connected_components_random_graphs_match_union_find(spark):
    """Seeded random graphs (sparse, clique-heavy, long chains, empty)
    must match a pure-Python union–find exactly — guards the active-node
    optimization (only edge-touched nodes iterate; singletons rejoin via
    anti-join) and multi-round convergence beyond diameter 2."""
    import random

    from databricks_end_to_end_lakeflow_project_spark.operators.dedup import (
        connected_components,
    )
    from tests.conftest import arrow_frame

    def uf_components(n_nodes, edge_list):
        parent = list(range(n_nodes))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edge_list:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # canonical label = min node id in the component
        best: dict[int, int] = {}
        for v in range(n_nodes):
            r = find(v)
            best[r] = min(best.get(r, v), v)
        return {v: best[find(v)] for v in range(n_nodes)}

    cases = []
    rng = random.Random(7)
    # sparse random
    cases.append((40, [(rng.randrange(40), rng.randrange(40)) for _ in range(25)]))
    # clique + satellites
    cases.append((30, [(i, j) for i in range(8) for j in range(i + 1, 8)] + [(8, 9)]))
    # one long chain: diameter 19 forces many propagation rounds
    cases.append((25, [(i, i + 1) for i in range(19)]))
    # empty edge set: everyone a singleton
    cases.append((12, []))
    for n_nodes, edge_list in cases:
        edge_list = [(a, b) for a, b in edge_list if a != b]
        # Arrow-built inputs: the propagation loop re-reads them each round
        nodes = arrow_frame(spark, [(i,) for i in range(n_nodes)], "node long")
        edges = arrow_frame(spark, edge_list, "src long, dst long")
        want = uf_components(n_nodes, edge_list)
        # BOTH execution paths must agree with the reference: the bounded
        # driver union-find fast path (default threshold) and the
        # distributed min-label propagation loop (threshold 0 forces it)
        got_fast = {
            r["node"]: r["component"]
            for r in connected_components(nodes, edges).collect()
        }
        got_dist = {
            r["node"]: r["component"]
            for r in connected_components(
                nodes, edges, small_graph_rows=0
            ).collect()
        }
        assert got_fast == want
        assert got_dist == want


def test_bloom_probe_has_no_false_negatives_and_audits_fp(spark):
    """Bloom guarantee: every exact duplicate is flagged maybe_dup (no
    false negatives, ever); the false-positive set is exactly the
    maybe-and-not-exact rows and stays a small fraction of the delta."""
    rows = dedup.dedup_bloom_delta_probe(spark, SF).collect()
    docs = read_table(spark, SF, "documents")
    n_delta = docs.filter(F.col("source") != "src0").count()
    assert len(rows) == n_delta, "one verdict row per delta doc"
    for r in rows:
        if r["exact_dup"]:
            assert r["maybe_dup"], f"false negative on doc {r['doc_id']}"
    fp = [r for r in rows if r["maybe_dup"] and not r["exact_dup"]]
    assert len(fp) <= max(1, n_delta // 20), "FPP should be percent-level"


def test_bloom_probe_matches_direct_membership(spark):
    """The bit-array formulation must agree with a direct position-set
    membership check computed independently in Python (same md5 math)."""
    import hashlib

    docs = read_table(spark, SF, "documents").collect()
    def fp(text):
        return hashlib.md5(
            " ".join(text.strip().split(" ")[:10]).encode()
        ).hexdigest()
    def positions(f):
        return {
            int(hashlib.md5(f"{f}:{j}".encode()).hexdigest()[:8], 16) % 4096
            for j in range(4)
        }
    base_pos = set()
    base_fps = set()
    for r in docs:
        if r["source"] == "src0":
            base_fps.add(fp(r["text"]))
            base_pos |= positions(fp(r["text"]))
    expected = {}
    for r in docs:
        if r["source"] != "src0":
            f = fp(r["text"])
            expected[r["doc_id"]] = (
                positions(f) <= base_pos,
                f in base_fps,
            )
    got = {
        r["doc_id"]: (r["maybe_dup"], r["exact_dup"])
        for r in dedup.dedup_bloom_delta_probe(spark, SF).collect()
    }
    assert got == expected


def test_hard_negatives_labels_differ_and_match_numpy(spark):
    """Every mined negative's label differs from its anchor's, ranks are
    dense 1..5 per anchor, and the selection equals an independent numpy
    brute-force for every anchor."""
    import numpy as np

    rows = similarity.sim_hard_negatives(spark, SF).collect()
    em = read_table(spark, SF, "embeddings").collect()
    lab = {r["vec_id"]: r["label"] for r in em}
    vec = {r["vec_id"]: np.asarray(r["embedding"], dtype=float) for r in em}
    by_anchor: dict[int, list] = {}
    for r in rows:
        assert lab[r["anchor_id"]] != r["label"]
        by_anchor.setdefault(r["anchor_id"], []).append(r)
    for a, rs in by_anchor.items():
        assert sorted(r["neg_rank"] for r in rs) == list(range(1, 6))
        av = vec[a]
        scored = sorted(
            (
                (
                    -round(
                        float(v @ av / (np.linalg.norm(v) * np.linalg.norm(av))),
                        6,
                    ),
                    vid,
                )
                for vid, v in vec.items()
                if lab[vid] != lab[a]
            ),
        )[:5]
        want = [vid for _, vid in scored]
        got = [r["vec_id"] for r in sorted(rs, key=lambda r: r["neg_rank"])]
        assert got == want, f"anchor {a}"


def test_sentence_dedup_global_first_occurrence_rule(spark):
    """Pure-Python replay of the global sentence-dedup pass: per-doc
    sentence and removal counts must match exactly; corpus-wide,
    removals == occurrences − distinct sentences, and every sentence's
    first (doc_id, position) occurrence is never removed."""
    import pyarrow.parquet as pq

    from databricks_end_to_end_lakeflow_project_spark.operators.textops import (
        text_dedup_sentences_global,
    )

    got = {
        r["doc_id"]: (r["n_sents"], r["n_dup_removed"])
        for r in text_dedup_sentences_global(spark, SF).collect()
    }

    tbl = pq.read_table(f"{SF}/documents.parquet", columns=["doc_id", "text"])
    first: dict[str, tuple[int, int]] = {}
    per_doc: dict[int, list[tuple[int, str]]] = {}
    for doc_id, text in sorted(
        zip(tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist())
    ):
        for i, seg in enumerate(text.split(". "), start=1):
            if len(seg) < 20:
                continue
            per_doc.setdefault(doc_id, []).append((i, seg))
            if seg not in first or (doc_id, i) < first[seg]:
                first[seg] = (doc_id, i)
    want = {
        d: (
            len(occ),
            sum(1 for i, seg in occ if first[seg] != (d, i)),
        )
        for d, occ in per_doc.items()
    }
    assert got == want
    total_occ = sum(n for n, _ in want.values())
    total_removed = sum(r for _, r in want.values())
    assert total_removed == total_occ - len(first)


def test_ngram_novelty_matches_pure_python(spark):
    """Novelty recomputed independently: distinct-trigram sets per doc,
    document frequency, unique counts and FLOOR'd ppm — exact."""
    import pyarrow.parquet as pq

    from databricks_end_to_end_lakeflow_project_spark.operators.textops import (
        text_ngram_novelty,
    )

    got = {r["doc_id"]: tuple(r)[1:] for r in text_ngram_novelty(spark, SF).collect()}

    tbl = pq.read_table(f"{SF}/documents.parquet", columns=["doc_id", "text"])
    per: dict[int, set[str]] = {}
    for doc_id, text in zip(tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist()):
        w = text.strip().split(" ")
        if len(w) < 3:
            continue
        per[doc_id] = {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}
    from collections import Counter

    df = Counter(g for gs in per.values() for g in gs)
    want = {}
    for d, gs in per.items():
        n_unique = sum(1 for g in gs if df[g] == 1)
        want[d] = (len(gs), n_unique, n_unique * 1000000 // len(gs))
    assert got == want


def test_dup_rate_by_quality_decile_consistent_with_prefix_groups(spark):
    """Decile sizes must be NTILE-balanced; summed dup members must equal
    the total membership of >1-sized prefix-fingerprint groups; ppm is
    the FLOOR'd ratio."""
    from databricks_end_to_end_lakeflow_project_spark.operators.dedup import (
        dedup_exact_prefix,
        dedup_rate_by_quality_decile,
    )

    rows = dedup_rate_by_quality_decile(spark, SF).collect()
    assert [r["decile"] for r in rows] == list(range(1, 11))
    sizes = [r["n_docs"] for r in rows]
    assert max(sizes) - min(sizes) <= 1  # exact NTILE balance
    n_total = sum(sizes)
    groups = dedup_exact_prefix(spark, SF).collect()
    assert n_total == sum(g["group_size"] for g in groups)
    dup_members = sum(g["group_size"] for g in groups if g["group_size"] > 1)
    assert sum(r["n_dup_members"] for r in rows) == dup_members
    for r in rows:
        assert r["dup_ppm"] == r["n_dup_members"] * 1000000 // r["n_docs"]


def test_contrastive_pairs_triplet_invariants(spark):
    """Triplet construction rules: positives are the strongest near-dup
    pairs; every negative's label differs from its anchor's; negatives
    are the per-pair hardest (numpy recount); positive similarity
    exceeds both negatives' (margin exists on this corpus)."""
    import numpy as np

    from databricks_end_to_end_lakeflow_project_spark.operators.similarity import (
        _CONTRAST_NEGS,
        _CONTRAST_PAIRS,
        pipeline_contrastive_pairs,
    )

    rows = pipeline_contrastive_pairs(spark, SF).collect()
    assert len(rows) == _CONTRAST_PAIRS * _CONTRAST_NEGS

    em = read_table(spark, SF, "embeddings").collect()
    V = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in em}
    L = {r["vec_id"]: r["label"] for r in em}

    def cos(x, y):
        return float(V[x] @ V[y] / (np.linalg.norm(V[x]) * np.linalg.norm(V[y])))

    by_pair: dict[tuple, list] = {}
    for r in rows:
        by_pair.setdefault((r["anchor"], r["positive"]), []).append(r)
    for (anc, pos), rs in by_pair.items():
        assert len(rs) == _CONTRAST_NEGS
        for r in rs:
            assert L[r["negative"]] != L[anc]
            assert r["negative"] not in (anc, pos)
            assert r["pos_cos"] >= r["neg_cos"]  # the triplet margin
        # hardest-negative recount (anchor/positive excluded)
        cand = sorted(
            (v for v in V if L[v] != L[anc] and v not in (anc, pos)),
            key=lambda v: (-cos(anc, v), v),
        )[:_CONTRAST_NEGS]
        assert [r["negative"] for r in rs] == cand


def test_code_detection_matches_pure_python(spark):
    """Feature counts and the x1000 score recomputed with Python re."""
    import re

    import pyarrow.parquet as pq

    from databricks_end_to_end_lakeflow_project_spark.operators.textops import (
        text_code_detection,
    )

    got = {r["doc_id"]: tuple(r)[1:] for r in text_code_detection(spark, SF).collect()}
    tbl = pq.read_table(f"{SF}/documents.parquet", columns=["doc_id", "text"])
    for doc_id, text in zip(tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist()):
        if not text:
            continue
        n_sym = len(re.findall(r"[{};()=<>\[\]]", text))
        n_kw = len(re.findall(r"\b(?:def|return|import|class|void|int|function|var|const)\b", text))
        n_camel = len(re.findall("[a-z][A-Z]", text))
        raw = n_sym * 20 + n_kw * 100 + n_camel * 50
        score = raw * 1000 // len(text)
        assert got[doc_id] == (
            n_sym, n_kw, n_camel, score, raw * 1000 / len(text) >= 15,
        ), doc_id


def test_knn_label_eval_matches_pure_python(spark):
    """k-NN majority-vote predictions recomputed independently with the
    sequential-fold cosine and the deterministic tie rules."""
    import pyarrow.parquet as pq

    from databricks_end_to_end_lakeflow_project_spark.operators.similarity import (
        _KNN_K,
        _KNN_Q_HI,
        _KNN_Q_LO,
        sim_knn_label_eval,
    )
    from tests.fold_reference import seq_cosine as _seq_cosine

    got = {r["q_vec"]: r for r in sim_knn_label_eval(spark, SF).collect()}

    tbl = pq.read_table(f"{SF}/embeddings.parquet")
    emb = dict(zip(tbl.column("vec_id").to_pylist(), tbl.column("embedding").to_pylist()))
    lab = dict(zip(tbl.column("vec_id").to_pylist(), tbl.column("label").to_pylist()))
    from collections import Counter

    for q in range(_KNN_Q_LO, _KNN_Q_HI + 1):
        qv = emb[q]
        nn = sorted(
            (v for v in emb if v != q),
            key=lambda v: (-_seq_cosine(emb[v], qv), v),
        )[:_KNN_K]
        votes = Counter(lab[v] for v in nn)
        pred, n_votes = sorted(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        r = got[q]
        assert (r["true_label"], r["pred_label"], r["n_votes"], r["correct"]) == (
            lab[q], pred, n_votes, pred == lab[q],
        ), q


def test_sft_pair_prep_content_and_gates(spark):
    """Pair checksums recomputed independently; every completion meets
    the minimum budget; prompt + completion reassemble the document."""
    import hashlib

    import pyarrow.parquet as pq

    from databricks_end_to_end_lakeflow_project_spark.operators.textops import (
        text_sft_pair_prep,
    )

    got = {r["doc_id"]: r for r in text_sft_pair_prep(spark, SF).collect()}

    tbl = pq.read_table(f"{SF}/documents.parquet", columns=["doc_id", "text"])
    n_expected = 0
    for doc_id, text in zip(tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist()):
        w = text.strip().split(" ")
        if len(w) < 18:
            assert doc_id not in got
            continue
        n_expected += 1
        prompt, completion = " ".join(w[:8]), " ".join(w[8:])
        r = got[doc_id]
        assert r["n_tok_prompt"] == 8
        assert r["n_tok_completion"] == len(w) - 8 >= 10
        assert r["prompt_md5"] == hashlib.md5(prompt.encode()).hexdigest()
        assert r["completion_md5"] == hashlib.md5(completion.encode()).hexdigest()
        assert f"{prompt} {completion}" == text.strip()
    assert len(got) == n_expected


def test_standardize_audit_matches_numpy_fixed_point(spark):
    """Per-dim integer moments and derived mean/std recomputed with
    numpy int64 on the quantized values."""
    import math

    import numpy as np
    import pyarrow.parquet as pq

    from databricks_end_to_end_lakeflow_project_spark.operators.similarity import (
        sim_embedding_standardize_audit,
    )

    got = {r["dim"]: r for r in sim_embedding_standardize_audit(spark, SF).collect()}
    emb = np.array(
        pq.read_table(f"{SF}/embeddings.parquet", columns=["embedding"]).column(
            "embedding"
        ).to_pylist(),
        dtype=np.float64,
    )
    q = np.round(emb * 1000000).astype(np.int64)
    n = q.shape[0]
    for d in range(q.shape[1]):
        col = q[:, d]
        s, s2 = int(col.sum()), int((col * col).sum())
        r = got[d + 1]
        assert (r["n"], r["sum_q"], r["sum_sq_q"]) == (n, s, s2)
        assert r["mean"] == round(s / n / 1000000.0, 6)
        assert r["std"] == round(
            math.sqrt(float(s2) / n - (float(s) / n) ** 2) / 1000000.0, 6
        )


def test_tokenizer_fertility_by_lang_matches_pure_python(spark):
    """Fertility and compression ratios recomputed with Python re."""
    import re

    import pyarrow.parquet as pq

    from databricks_end_to_end_lakeflow_project_spark.operators.textops import (
        _BPE_ISH,
        text_tokenizer_fertility_by_lang,
    )

    got = {r["lang"]: tuple(r)[1:] for r in text_tokenizer_fertility_by_lang(spark, SF).collect()}
    tbl = pq.read_table(f"{SF}/documents.parquet", columns=["lang", "text"])
    agg: dict[str, list[int]] = {}
    rx = re.compile(_BPE_ISH)
    for lang, text in zip(tbl.column("lang").to_pylist(), tbl.column("text").to_pylist()):
        a = agg.setdefault(lang, [0, 0, 0, 0])
        a[0] += 1
        a[1] += len(text)
        a[2] += len(rx.findall(text))
        a[3] += len(text.strip().split(" "))
    want = {
        lang: (
            n, bpe, chars * 1000 // bpe, chars * 1000 // ws, bpe * 1000 // ws,
        )
        for lang, (n, chars, bpe, ws) in agg.items()
    }
    assert got == want


def test_minhash_estimate_audit_bounds(spark):
    """Every audited pair's estimate must sit within 4 binomial sd of
    its true Jaccard (sd = sqrt(J(1-J)/64)), and slot matching must be
    consistent with the exported integer arithmetic."""
    import math

    from databricks_end_to_end_lakeflow_project_spark.operators.dedup import (
        dedup_minhash_estimate_audit,
    )

    rows = dedup_minhash_estimate_audit(spark, SF).collect()
    assert rows
    for r in rows:
        j = r["jaccard_x10000"] / 10000.0
        assert 0.8 <= j <= 1.0
        assert 0 <= r["n_matching_slots"] <= 64
        assert r["est_x10000"] == r["n_matching_slots"] * 10000 // 64
        sd = math.sqrt(max(j * (1 - j), 1e-9) / 64)
        assert abs(r["est_x10000"] / 10000.0 - j) <= max(4 * sd, 0.04), r


def test_assigned_cells_kernel_matches_expression(spark):
    """The r10 exact-fold Arrow assignment kernel must reproduce the old
    JVM expression formulation BIT-FOR-BIT: same (vec_id, cell) multiset
    AND same probe rank per vector (the full-precision cosine ranking is
    the correctness surface — a single flipped near-tie would move a
    vector between cells). Run on real corpora at two SFs and at both
    registry operating points (n_probe 2 and 4)."""
    from databricks_end_to_end_lakeflow_project_spark.sources.readers import (
        read_seed_rows,
    )
    from tests.fold_reference import assigned_cells_expression

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        em = read_table(spark, sf_dir, "embeddings")
        seeds = sorted(
            (r["vec_id"], r["embedding"])
            for r in read_seed_rows(
                sf_dir, "embeddings", ["vec_id", "embedding"], "vec_id",
                hi=similarity._IVF_CELLS,
            )
        )
        for n_probe in (2, 4):
            def ranked(df):
                # (vec_id, probe order) -> cell: rank inside a vec_id is
                # the emitted row order per vector, recovered by grouping
                out = {}
                for r in df.collect():
                    out.setdefault(r["vec_id"], []).append(r["cell"])
                return out

            kern = ranked(similarity._assigned_cells(em, seeds, n_probe))
            expr = ranked(assigned_cells_expression(em, seeds, n_probe))
            assert kern == expr, (sf_dir, n_probe)


def test_fold_cosine_kernel_matches_expression(spark):
    """with_fold_cosine must reproduce the interpreted `cosine`
    expression bit-for-bit (full-precision doubles compared exactly) on
    a real all-pairs frame."""
    em = read_table(spark, SF, "embeddings").limit(120)
    a = em.select(F.col("vec_id").alias("va"), F.col("embedding").alias("ea"))
    b = em.select(F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"))
    pairs = a.join(b, F.col("va") < F.col("vb"))
    kern = {
        (r["va"], r["vb"]): r["c"]
        for r in similarity.with_fold_cosine(
            pairs, "ea", "eb", "c", keep=["va", "vb"]
        ).collect()
    }
    expr = {
        (r["va"], r["vb"]): r["c"]
        for r in pairs.select(
            "va", "vb", similarity.cosine(F.col("ea"), F.col("eb")).alias("c")
        ).collect()
    }
    assert kern.keys() == expr.keys()
    import math
    for k in expr:
        assert (
            kern[k] == expr[k]
            or (math.isnan(kern[k]) and math.isnan(expr[k]))
        ), (k, kern[k], expr[k])


def test_band_signatures_kernel_matches_expression(spark):
    """with_band_signatures must reproduce the interpreted
    band_signatures expression exactly (the sign of a bit-identical
    fold dot is bit-identical, so every packed band key matches)."""
    from tests.fold_reference import band_signatures

    em = read_table(spark, SF, "embeddings")
    kern = {
        r["vec_id"]: r["bands"]
        for r in similarity.with_band_signatures(
            em.select("vec_id", "embedding"), keep=["vec_id"]
        ).collect()
    }
    expr = {
        r["vec_id"]: r["bands"]
        for r in em.select(
            "vec_id",
            band_signatures(F.col("embedding")).alias("bands"),
        ).collect()
    }
    assert kern == expr
