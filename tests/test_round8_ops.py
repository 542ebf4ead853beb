"""Round-8 regression tests.

Degenerate-input guards: Spark's ``sequence(a, b)`` DESCENDS when b < a
(default step -1), so every computed index fan-out that can go empty must
use ``asc_seq`` (functions/compat.py) or a short-but-valid input crashes
with INVALID_ARRAY_INDEX instead of producing the zero rows the DuckDB
oracles produce. These tests pin that contract on fixtures explicitly
built to be shorter than each operator's window.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _q(name):
    import __spark_entry__ as e

    return e.queries()[name]


@pytest.fixture(scope="module")
def tiny_sf_dir(spark, tmp_path_factory):
    """A scale-factor dir whose events span only TWO days (shorter than
    every rolling/STL/peak window) and whose documents include <3-token
    texts plus a word that BPE-merges into a single symbol."""
    root = tmp_path_factory.mktemp("sf_degenerate")
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    ev = spark.createDataFrame(
        [
            (i, base + dt.timedelta(hours=6 * i), i % 3, "view", float(i), "{}")
            for i in range(8)  # 2024-01-01 .. 2024-01-02
        ],
        "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string",
    )
    ev.coalesce(1).write.parquet(str(root / "events.parquet"))
    docs = spark.createDataFrame(
        [
            (1, "one", "en", "web", 3),  # 1 token  (< 3-shingle window)
            (2, "two words", "en", "web", 9),  # 2 tokens
            (3, "ab ab abab ab", "en", "web", 13),  # 'ab' merges to ONE symbol
            (4, "three token doc here", "en", "web", 20),
            (5, "three token doc here", "en", "web", 20),  # exact dup of 4
        ],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    docs.coalesce(1).write.parquet(str(root / "documents.parquet"))
    return str(root)


# Each of these read only `events` and window over the daily series; with a
# 2-day series every one of them must return ZERO detection rows (matching
# the oracle's empty window/range scan), never raise.
@pytest.mark.parametrize(
    "name",
    [
        "ts_stl_decompose_weekly",
        "ts_rolling_mad_anomaly",
        "ts_peak_prominence",
    ],
)
def test_short_series_yields_zero_rows(spark, tiny_sf_dir, name):
    assert _q(name)(spark, tiny_sf_dir).count() == 0


def test_pattern_search_short_series_no_crash(spark, tiny_sf_dir):
    # each user has fewer than _PAT_M points -> no candidate windows at all
    out = _q("ts_pattern_search")(spark, tiny_sf_dir)
    assert out.count() == 0


def test_page_hinkley_short_series_no_crash(spark, tiny_sf_dir):
    # 2 daily points: the fold itself is well-defined, must not raise
    _q("stats_page_hinkley_alarm")(spark, tiny_sf_dir).collect()


def test_concurrency_peak_short_series_no_crash(spark, tiny_sf_dir):
    _q("events_concurrency_peak")(spark, tiny_sf_dir).collect()


def test_bpe_merge_single_symbol_word(spark, tiny_sf_dir):
    """A word equal to the round-1 top pair segments to ONE symbol; the
    round-2 pair scan over it must contribute zero pairs, not crash on
    element_at(syms, 0)."""
    out = _q("text_bpe_apply_merge_round2")(spark, tiny_sf_dir)
    out.collect()  # would raise INVALID_ARRAY_INDEX before the guard


def test_cascade_funnel_short_docs(spark, tiny_sf_dir):
    """<3-token docs produce zero shingles (doc survives as its own
    shingle-set group) instead of crashing in slice()."""
    from databricks_end_to_end_lakeflow_project_spark.operators.dedup import (
        dedup_cascade_funnel,
    )
    from databricks_end_to_end_lakeflow_project_spark.sources.readers import (
        read_table,
    )

    docs = read_table(spark, tiny_sf_dir, "documents")
    stages = dict(dedup_cascade_funnel(docs))
    assert stages["0_raw_docs"] == 5
    assert stages["1_after_exact_dedup"] == 4  # doc 5 is an exact dup
    # docs 1 and 2 produce ZERO shingles, so they leave the funnel at the
    # shingle-set stage — exactly what the DuckDB oracle's
    # range(1, len-1) lateral does; docs 3 and 4 keep distinct sets
    assert stages["2_after_shingleset_dedup"] == 2
    assert stages["3_neardup_pairs_tau80"] >= 0


def test_asc_seq_matches_duckdb_range_semantics(spark):
    """asc_seq(1, n) == DuckDB range(1, n+1): ascending when n >= 1,
    EMPTY (not [1,0]) when n < 1."""
    from databricks_end_to_end_lakeflow_project_spark.functions.compat import asc_seq

    df = spark.range(1).select(
        asc_seq(F.lit(1), F.lit(3)).alias("up"),
        asc_seq(F.lit(1), F.lit(0)).alias("empty0"),
        asc_seq(F.lit(4), F.lit(-2)).alias("emptyneg"),
    )
    row = df.collect()[0]
    assert row["up"] == [1, 2, 3]
    assert row["empty0"] == []
    assert row["emptyneg"] == []


def test_run_all_fills_a_fifth_cdc_flow(spark, tmp_path):
    """A CDC flow declared on the lake's silver pipeline beside the four
    entity flows runs in ``run_all`` like them: its target is filled
    from its source view over bronze."""
    from databricks_end_to_end_lakeflow_project_spark.plans.flight_pipeline import (
        FlightLakehouse,
    )
    from databricks_end_to_end_lakeflow_project_spark.sources import flight_fixtures as fx

    raw = str(tmp_path / "raw")
    fx.write_base(raw)
    lake = FlightLakehouse(spark, raw, str(tmp_path / "lake"))
    p = lake.silver

    @p.view(name="big_bookings_raw")
    def big_bookings_raw(pl):
        return pl.read("bookings_raw").filter(F.col("amount") >= 500)

    p.create_streaming_table("big_bookings_silver")
    p.create_auto_cdc_flow(
        target="big_bookings_silver",
        source="big_bookings_raw",
        keys=["booking_id"],
        sequence_by="modifiedDate",
    )
    lake.run_all(clock=dt.datetime(2025, 8, 1))
    big = p.table("big_bookings_silver").read()
    want = lake.silver.read("bookings_silver").filter(F.col("amount") >= 500)
    assert big.count() > 0
    assert big.exceptAll(want).count() == 0 and want.exceptAll(big).count() == 0


# ------------------------------------------------- off-model ER blocking


def test_offmodel_blocking_covers_every_family(spark):
    """Each corruption family's true pair must share at least one block
    key (the per-family coverage proof, exercised on data): recall 1.0
    per family on the smoke fixture."""
    rows = _q("er_offmodel_match_quality")(spark, SF_SMOKE).collect()
    assert len(rows) == 4
    for r in rows:
        assert r["match_recall"] == 1.0, (r["family"], r["match_recall"])
        assert r["match_precision"] == 1.0, (r["family"], r["match_precision"])


def test_offmodel_deletion_keys_shape(spark):
    """FastSS depth-1 neighborhood: len(name)+2 keys per side (self +
    one per deleted position + the token-set key)."""
    from databricks_end_to_end_lakeflow_project_spark.operators.entity import (
        _offmodel_block_keys,
    )

    row = (
        spark.createDataFrame([("Customer#000000001",)], "s string")
        .select(F.size(_offmodel_block_keys(F.col("s"))).alias("n"))
        .collect()[0]
    )
    assert row["n"] == 18 + 2


# --------------------------------------------- round-8 operator invariants


def test_band_row_tradeoff_monotone(spark):
    """More bands (fewer rows per band) must raise BOTH the s-curve
    detection probability at 0.8 and the expected candidate volume."""
    rows = sorted(
        _q("dedup_band_row_tradeoff")(spark, SF_SMOKE).collect(),
        key=lambda r: r["bands"],
    )
    ps = [r["p_detect_at_080"] for r in rows]
    cands = [r["expected_candidates"] for r in rows]
    assert ps == sorted(ps)
    assert cands == sorted(cands)


def test_quality_gate_sweep_monotone(spark):
    """A looser NLL threshold can only keep MORE docs/tokens."""
    rows = sorted(
        _q("text_quality_gate_sweep")(spark, SF_SMOKE).collect(),
        key=lambda r: r["thr_centinat"],
    )
    kept = [r["docs_kept"] for r in rows]
    assert kept == sorted(kept)


def test_capture_recapture_reasonable(spark):
    r = _q("stats_capture_recapture")(spark, SF_SMOKE).collect()[0]
    # both captures are ~half the corpus, so Chapman should land within
    # a loose factor of truth on any non-adversarial corpus
    assert 0.5 * r["n_true"] <= r["chapman_estimate"] <= 2 * r["n_true"]


def test_dp_quantile_exactly_one_chosen(spark):
    rows = _q("privacy_dp_quantile")(spark, SF_SMOKE).collect()
    assert sum(1 for r in rows if r["chosen"]) == 1
    cums = [r["cum_count"] for r in sorted(rows, key=lambda r: r["bin"])]
    assert cums == sorted(cums)  # cumulative counts must be monotone


def test_prf_expansion_excludes_base_terms(spark):
    rows = _q("retrieval_prf_expansion")(spark, SF_SMOKE).collect()
    terms = {rows[0]["exp_term_1"], rows[0]["exp_term_2"]}
    assert terms.isdisjoint({"join", "spark"})
    assert all(len(t) >= 3 for t in terms)


def test_importance_clipped_ess_bounds(spark):
    r = _q("sample_importance_clipped")(spark, SF_SMOKE).collect()[0]
    assert 0 < r["ess_fraction"] <= 1.0


def test_bitext_dedup_exchange_is_narrow(spark):
    """The pair dedup must shuffle (src, dst, cos_sim) ONLY — deduping
    before the cosine projection ships both 64-dim embeddings per
    duplicate through the exchange (~1 KB/row; measured 50+ GB of spill
    at a ×100 corpus before the round-8 fix)."""
    from databricks_end_to_end_lakeflow_project_spark.operators.similarity import (
        bitext_margin_pairs,
    )
    from databricks_end_to_end_lakeflow_project_spark.sources.readers import (
        read_table,
    )

    em = read_table(spark, SF_SMOKE, "embeddings")
    seeds = sorted(
        (r["vec_id"], r["embedding"])
        for r in em.filter(F.col("vec_id") < 8).collect()
    )
    plan = (
        bitext_margin_pairs(em, seeds, 4, topk=None)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    dedup_aggs = [
        ln
        for ln in plan.splitlines()
        if "HashAggregate(keys=[src#" in ln and ", dst#" in ln
    ]
    assert dedup_aggs, "pair-dedup aggregate not found in plan"
    for ln in dedup_aggs:
        assert "embedding" not in ln and "va#" not in ln and "vb#" not in ln, ln
