"""Formatted physical plans (`.explain("formatted")`). Run from the repo
root, in one of two modes:

    python tools/dump_plans.py [--sf-dir DIR]
    python tools/dump_plans.py --round ROUND --suffix SUFFIX [NAME ...]

The first regenerates PLANS.md: the showcase queries below, each with a
note on what its plan must show. These back the claims in OPERATORS.md
§Performance invariants — the plan-guard tests in tests/test_plans.py
assert the same properties mechanically; PLANS.md is the human-readable
version.

The second writes the full plan of each named query (default: the bench
HEADLINE set) to plans/<ROUND>/<NAME>_<SUFFIX>.txt, e.g. ``--round r10
--suffix before``: the plans an optimization's claims are judged against
(Exchange count, join strategy, PushedFilters, BatchEvalPython nodes).
Both modes read ``--sf-dir``; pass the bench's scale for the second.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from databricks_end_to_end_lakeflow_project_spark import registry  # noqa: E402
from databricks_end_to_end_lakeflow_project_spark.session import get_spark  # noqa: E402

# (query, what the plan must show)
SHOWCASE = [
    (
        "er_blocked_match_pairs",
        "Wildcard-variant ER blocking: both sides explode 8 variant keys, "
        "candidates come from ONE equi-join on (nation, wpos, vkey, sub) "
        "with the size-aware split riding the same key - no cartesian, no "
        "fan-out beyond the <=10-row variant blocks, JVM levenshtein, one "
        "aggregate.",
    ),
    (
        "graph_cc_star_contraction",
        "Star-contraction CC: every round is groupBy-min + equi-join "
        "(large-star) then the same on oriented edges (small-star); "
        "localCheckpoint truncates lineage per round, the fixpoint probe "
        "is one aggregate - no diameter-length lineage, no cartesian.",
    ),
    (
        "retrieval_ndcg_mrr_eval",
        "Ranking eval: the 5-row query frame broadcasts across one "
        "candidate scan (BroadcastNestedLoopJoin on a bounded frame - the "
        "batch-scoring contract), per-query top-k windows are partitioned "
        "by qid, and all metric algebra runs on |Q|*k rows.",
    ),
    (
        "stats_sprt_boundary",
        "SPRT: cumulative counts come from the scalerank kernel (range-bin "
        "exchange + partitioned windows + literal-map offsets) joined on "
        "the unit key - zero single-partition WindowExec despite the "
        "global-order semantics.",
    ),
    (
        "sim_kmeans_lloyd",
        "Exact fixed-point k-means: centroids arrive as BroadcastHashJoins "
        "(k*dim rows), assignment distances are partial-aggregatable "
        "integer sums grouped on (vec_id, cluster), the update groups on "
        "(cluster, dim) - one shuffle per Lloyd half-step, no sort-merge "
        "join, no driver linear algebra.",
    ),
    (
        "sim_pca_power_iteration",
        "Matrix-free power iteration: each round is two hash aggregates "
        "(dots on vec_id, accumulations on dim) against a broadcast 64-row "
        "direction; the norm fold is a single-row array aggregate - the "
        "plan never materializes a matrix or a single-partition stage.",
    ),
    (
        "join_bloom_semi_reduction",
        "Bloom semi-join reduction: the dim-side position set comes back "
        "as a BroadcastHashJoin probed per fact row BEFORE any fact "
        "shuffle; the only exchange after the scan is the final scalar "
        "aggregate.",
    ),
    (
        "text_bigram_nll",
        "Interpolated bigram LM scoring: the token stream is shuffled once "
        "for the window lag; all three LM lookups (bigram counts, context "
        "totals, unigram probabilities) come back as BroadcastHashJoins - "
        "no SortMergeJoin anywhere, vocabulary-sized state only.",
    ),
    (
        "text_bm25_topk",
        "Known-query BM25: NO Exchange and NO Generate anywhere — per-term "
        "tf is an array filter codegen'd into the scan projection, corpus "
        "constants arrive as literals, and the top-10 is a "
        "TakeOrderedAndProject (partial per-partition top-k, driver merge).",
    ),
    (
        "text_heavy_hitters_topk",
        "Misra-Gries sketch-then-verify: pass 1 shuffles only "
        "partitions\u00d7capacity summary rows; pass 2 semi-joins the corpus "
        "against the BROADCAST candidate set and partial-aggregates "
        "map-side — the full vocabulary is never shuffled.",
    ),
    (
        "join_incremental_maintenance",
        "IVM delta rule: the maintained join unions four joins whose probe "
        "sides are delta-sized; at this SF every delta side broadcasts — "
        "A\u22c8B is never recomputed.",
    ),
    (
        "flagship_star_revenue",
        "Star join: the shipdate filter reaches the lineitem scan as a "
        "PushedFilter; every dimension side is a BroadcastHashJoin (at "
        "test SFs even orders fits the broadcast threshold — at cluster "
        "scale that edge becomes the plan's one shuffle join); "
        "aggregation is two-phase (partial then final).",
    ),
    (
        "q18_large_volume_customer",
        "Aggregate-before-join: lineitem is hash-aggregated at orderkey "
        "grain and HAVING-filtered BEFORE joining orders/customer — the "
        "joins see only surviving orders.",
    ),
    (
        "q19_disjunctive_revenue",
        "OR-of-ANDs: part is broadcast; the scan of part carries In(p_brand, "
        "...) derived from the disjunction; the residual OR predicate "
        "evaluates inside the join, never a shuffle.",
    ),
    (
        "q15_top_supplier",
        "CTE reused twice but lineitem computed ONCE: the revenue frame is "
        "persisted (both FileScan prints are copies of the cached relation's "
        "build plan) and the scalar MAX joins back as a 1-row broadcast — no "
        "single-partition window.",
    ),
    (
        "sink_bucketed_colocated_join",
        "Co-bucketed join: SortMergeJoin with NO hashpartitioning exchange "
        "on either side (bucketing pre-satisfies the distribution).",
    ),
    (
        "q2_min_cost_supplier",
        "Correlated-MIN join-back: lineitem is pruned by a LeftSemi "
        "BroadcastHashJoin against the size-filtered part dim BEFORE the "
        "per-part MIN aggregate; the join-back on (partkey, price=min) "
        "reuses the pruned side.",
    ),
    (
        "sample_split_train_val_test",
        "Hash split: pure row-function projection; the ONLY exchange is the "
        "final 3-group aggregation (partial-aggregated map-side).",
    ),
    (
        "dedup_contamination_ngram",
        "Contamination check: the deduplicated benchmark gram set is the "
        "BUILD side of a BroadcastHashJoin — the corpus (the 100 TB side) "
        "is never shuffled; per-doc hit counts partial-aggregate map-side.",
    ),
    (
        "events_sessionize",
        "Sessionization: ONE Exchange hashpartitioning(user_id) feeds both "
        "the lag window and the per-user aggregate — the groupBy reuses "
        "the window's partitioning instead of adding a second shuffle.",
    ),
    (
        "ts_resample_ohlc",
        "OHLC resample: ONE Exchange hashpartitioning(event_type, bucket) "
        "feeds two Sorts (ascending and descending row_number) and the "
        "final aggregate — open/close/high/low/count all resolve off a "
        "single shuffle.",
    ),
    (
        "join_temporal_scd2",
        "Temporal SCD2 join: the join carries the EQUI key user_id (a "
        "BroadcastHashJoin at test SF; hash-partitioned sort-merge at "
        "cluster scale); the validity-interval predicate "
        "rides along as the join's range condition — never a "
        "BroadcastNestedLoopJoin, so the blowup is bounded by "
        "versions-per-key. The SCD2 build itself is one window exchange.",
    ),
    (
        "retrieval_hybrid_rrf",
        "Hybrid RRF: each retrieval leg ends in TakeOrderedAndProject "
        "over a full scan (corpus never globally sorted, never shuffled "
        "by score); the fusion join runs over two 20-row frames — its "
        "exchanges move k rows, not data.",
    ),
    (
        "subq_lateral_topk",
        "Correlated LATERAL subquery: Catalyst de-correlates the per-row "
        "dependent subquery into WindowGroupLimit (partial per-partition "
        "top-k) + one BroadcastHashJoin — no per-row re-execution, no "
        "nested loop.",
    ),
    (
        "join_asof_nearest",
        "Nearest as-of: the union of both sides is partitioned ONCE on "
        "user_id; two Sorts (right-first and left-first tie order) feed "
        "the backward last() and forward first() windows — both temporal "
        "directions from one exchange, where the naive plan is two as-of "
        "joins plus a re-join (three shuffles).",
    ),
    (
        "sample_split_temporal",
        "Exact global NTILE without a global sort (operators/scalerank.py): "
        "the only Window in the plan is PARTITIONED by the range bin "
        "(hashpartitioning exchange, never SinglePartition); the bin "
        "offsets arrived as a literal map from the bounded histogram "
        "collect, so no join, no broadcast, no single-partition stage.",
    ),
    (
        "monitor_ks_value_drift",
        "Distributed two-sample CDF (KS drift gate): the cumulative "
        "counts come from a bin-PARTITIONED running-sum Window over the "
        "per-distinct-value frame with literal-map prefix offsets — the "
        "plan's only exchanges are the per-value aggregation and the bin "
        "hashpartitioning; no SinglePartition stage, no join for the "
        "offsets.",
    ),
    (
        "rfm_customer_segments",
        "Three independent exact-quartile orderings over one per-customer "
        "frame: three bin-PARTITIONED Windows chained on the same frame "
        "(one boundary pass + one joint histogram fed them), each with its "
        "own hashpartitioning exchange — zero SinglePartition exchanges at "
        "any customer count.",
    ),
    (
        "sample_epoch_shuffle",
        "Epoch-seeded deterministic training-order shuffle: exactly ONE "
        "Exchange (hashpartitioning on the 4-hex-digit shard) followed by "
        "a shard-local Sort + Window — never an Exchange rangepartitioning "
        "(Spark's sampled global sort). 'Shard then shuffle within shard' "
        "is the shape a 100 TB training-data write needs: per-shard files, "
        "no skewed range boundaries, no total-order straggler.",
    ),
    (
        "join_interval_overlap",
        "Binned interval-overlap self-join: the join is EQUI on "
        "(supplier, week) — SortMergeJoin with the overlap terms as a "
        "residual condition, never a cartesian/nested-loop; the "
        "owner-bucket equality dedups pairs as a FILTER, so the plan has "
        "no Distinct exchange anywhere.",
    ),
    (
        "graph_random_walks",
        "Walk-corpus generation: the adjacency index is ONE partitioned "
        "window pass (row_number + count over src); each of the 4 steps "
        "is a single equi-join keyed on (src, idx-expression) against the "
        "constant-size walk frontier — no cartesian, no per-step "
        "re-aggregation of the graph.",
    ),
    (
        "stats_spearman_corr",
        "Spearman without a global sort: both doubled-average-rank frames "
        "come from the scalerank cumsum kernel (range-bin exchange + "
        "partitioned within-bin window + literal-map offsets) joined back "
        "on the VALUE key; the final five moments are one "
        "partial-aggregatable HashAggregate — zero single-partition "
        "WindowExec.",
    ),
    (
        "sink_zorder_layout_audit",
        "OPTIMIZE ZORDER compute core: the Morton z-value is whole-stage-"
        "codegen integer arithmetic (no UDF); both layouts' file "
        "assignments are exact NTILE via the scalerank rank kernel "
        "(partitioned windows over range bins, never NTILE OVER ()); the "
        "two span rollups reuse ONE persisted bucketed frame.",
    ),
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--round", help="capture into plans/ROUND/ instead of PLANS.md")
    ap.add_argument("--suffix", help="file-name suffix for --round, e.g. before")
    ap.add_argument("names", nargs="*", help="queries for --round")
    args = ap.parse_args()
    if bool(args.round) != bool(args.suffix) or (args.names and not args.round):
        ap.error("--round and --suffix go together, and names need them")
    if args.round:
        _capture(args.sf_dir, args.round, args.suffix, args.names)
        return
    spark = get_spark("plan-dump", cpus=8, shuffle_partitions=8)
    qs = registry.all_queries()

    out = [
        "# PLANS — formatted physical plans for the showcase queries\n",
        "Generated by `python tools/dump_plans.py` at sf-dir "
        f"`{args.sf_dir}` (plans are shape-identical at any SF; AQE may "
        "further coalesce partitions at runtime). Each section states the "
        "property the plan demonstrates; tests/test_plans.py asserts these "
        "mechanically.\n",
    ]
    for name, claim in SHOWCASE:
        plan = _formatted(spark, qs[name](spark, args.sf_dir))
        # keep the operator tree + the first details; drop the long tail of
        # per-operator field dumps beyond what the claims reference
        tree, _, details = plan.partition("\n\n")
        detail_head = "\n".join(details.splitlines()[:40])
        out.append(f"## {name}\n\n**Must show**: {claim}\n")
        out.append("```\n" + tree.strip() + "\n\n" + detail_head + "\n```\n")
    Path(_REPO, "PLANS.md").write_text("\n".join(out))
    print(f"wrote PLANS.md ({len(SHOWCASE)} plans)")
    spark.stop()


def _formatted(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _capture(sf_dir: str, round_name: str, suffix: str, names: list[str]) -> None:
    """Full plans of ``names`` (default: the bench HEADLINE set) into
    plans/<round_name>/, on a session of the bench's width."""
    if not names:
        import bench

        names = list(bench.HEADLINE)
    out_dir = Path(_REPO) / "plans" / round_name
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark(f"plan-capture-{round_name}")
    qs = registry.all_queries()
    for name in names:
        try:
            plan = _formatted(spark, qs[name](spark, sf_dir))
        except Exception as exc:  # noqa: BLE001
            plan = f"PLAN CAPTURE FAILED: {exc!r}\n"
        (out_dir / f"{name}_{suffix}.txt").write_text(plan)
        print(f"captured {name}_{suffix} ({len(plan)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
