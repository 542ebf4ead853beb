"""Each shared operator helper, reached through one registry query at
sf0.001 and compared with that query's DuckDB oracle (the same
canonical rows `tools/check_oracle.py` compares)."""

from __future__ import annotations

from pathlib import Path

import duckdb
import pytest

from databricks_end_to_end_lakeflow_project_spark import registry
from tools.check_oracle import TABLES, canon_rows

# one query per shared helper, named in its comment
QUERIES = [
    "text_quality_score",  # textops.quality_score
    "text_bm25_topk",  # textops.bm25_scores
    "text_unigram_nll",  # textops._unigram_token_probs
    "text_dedup_span_c4",  # textops._c4_spans, _c4_span_accounting (no base index)
    "text_dedup_span_c4_delta",  # textops._c4_span_accounting with a base index
    "sim_kmeans_silhouette",  # similarity.fixed_point_dims and the round-1 Lloyd chain
    "graph_clustering_coefficient",  # graph.cooccurrence_weights
    "graph_common_neighbors_topk",  # graph._anchor_wedges, _unlinked_topk
    "join_asof_backward",  # asof._asof_union
    "stats_welch_ttest",  # stats._click_view_cents_moments
    "stats_eb_shrinkage",  # stats._nation_fulfilled_counts
    "events_midnight_sessions",  # eventseries._gap_sessions
    "multimodal_phash_pairs",  # dedup.sign_vote64
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    yield con
    con.close()


@pytest.mark.parametrize("name", QUERIES)
def test_shared_helper_matches_oracle(spark, sf_dir, duck, name):
    df = registry.all_queries()[name](spark, sf_dir)
    got = canon_rows(df.columns, df.collect())
    spark.catalog.clearCache()
    cur = duck.execute(registry.all_oracles()[name])
    cols = [d[0] for d in cur.description]
    assert sorted(df.columns) == sorted(cols)
    assert got, f"{name} returned no rows at {sf_dir}"
    assert got == canon_rows(cols, cur.fetchall())
