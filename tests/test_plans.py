"""Physical-plan guards: the scale properties OPERATORS.md claims must be
visible in the executed plans, not just intended."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from databricks_end_to_end_lakeflow_project_spark import registry
from databricks_end_to_end_lakeflow_project_spark.operators.partitioning import (
    sink_bucketed_colocated_join,
    sink_partitioned_pruning,
)

SF = "/root/testdata/sf0.001"

# brute-force baselines are deliberately non-equi (all-pairs) joins; the
# cross-join demo is explicitly cartesian
NON_EQUI_WHITELIST = {
    "join_cross_dims",
    "dedup_ngram_jaccard_pairs",  # bounded-sample all-pairs audit baseline (256-doc content-hash subset)
    "dedup_containment_pairs",  # same all-pairs baseline contract as jaccard
    "stats_theil_sen_trend",  # pairwise slopes over the ~84-row MONTH series (model-sized after the month-grain aggregate)
    "stats_kendall_tau_monthly",  # concordance pairs over the same ~84-row MONTH frame (bounded after the month-grain aggregate)
    "sim_embedding_near_dup_pairs",
    "join_range_predicate",  # range predicate only — intentional
    "ts_gapfill_hourly",  # spine × distinct types: both sides tiny by construction
    "events_stickiness_ratio",  # trailing-30d range join of the ~90-row DAY frame against the (user, day) grid — bounded by days × active users
    # scalar-threshold patterns: the broadcast side is a 1-row aggregate,
    # so the nested-loop join is O(n) at any scale
    "q11_revenue_concentration",
    "q22_dormant_customers",
    "sample_temperature_mixture",  # 1-row broadcast totals over #languages rows
    "agg_theta_sketch_sets",  # 1-row × 1-row sketch pair — set algebra on bytes
    "sample_balanced_by_lang",  # 1-row broadcast minority-count floor
    "monitor_psi_value_drift",  # 1-row broadcast (n0, n1) totals over |bins| rows
    "stats_chisq_independence",  # 1-row broadcast grand totals over the ~|langs×sources| cell frame
    "stats_eb_shrinkage",  # 1-row broadcast prior (m, v, k) over the 25-row nation frame
    "stats_jackknife_loo_rate",  # 1-row broadcast totals/means over the 25-row nation frame
    "ts_sax_symbolize",  # 1-row broadcast global moments over the ~13-row segment frame
    "text_burstiness_topterms",  # 1-row broadcast doc-count over the term frame
    "graph_modularity_by_brand",  # 1-row broadcast degree-moment frame × 1-row edge totals
    "events_rfm_migration",  # 1-row broadcast epoch-midpoint bounds over the scan
    "sample_class_weights_effective",  # 1-row broadcast normalizers over the ≤5-row class frame
    "curation_length_bucket_padding",  # 1-row broadcast (min, width) bounds over the scan
    "privacy_exponential_mechanism",  # 1-row broadcast argmax winner over the ≤5-row candidate frame
    "cdc_write_audit_publish",  # 1-row × 1-row × 1-row audit-report aggregates
    "stats_permutation_test",  # bounded broadcast replicate-id fan-out (B=200 ints) + 1-row observed-diff join
    "subq_quantified_all_any",  # 1-row broadcast (max, min) nation-average bounds — the ALL/ANY rewrite
    "graph_richclub_coefficient",  # 1-row × 1-row rich-node/rich-edge conditional aggregates
    "events_transition_entropy",  # 1-row broadcast transition total over the ≤|types|² cell frame
    "text_js_divergence_sources",  # 1-row broadcast corpus-token total over the (source, token) frame
    "stats_sign_test_paired",  # 1-row broadcast epoch-midpoint bounds over the scan
    "sim_ivf_nprobe_sweep",  # bounded broadcasts: 20-query batch-scoring panel + 4-row nprobe fan-out (p.rn <= nprobe)
    "monitor_chisq_type_drift",  # 1-row broadcast totals over |categories| rows
    "q15_top_supplier",  # 1-row broadcast scalar MAX over the cached revenue frame
    "agg_histogram_price_bins",  # 1-row broadcast grand total over |bins| rows
    "text_bm25_topk",  # 1-row broadcast corpus constants (N, avgdl, df) over the doc scan — r9 jobless-builder change moved them from eager collect into the measured plan
    "retrieval_hybrid_rrf",  # same 1-row corpus-constant broadcast inside the embedded BM25 leg (r9)
    # bounded ANCHOR BATCH broadcast (a training batch, not a table) through
    # a label-mismatch predicate: O(|batch|·n) scoring pass by design
    "sim_hard_negatives",
    "sample_token_budget_mixture",  # 1-row broadcast corpus total over #domains rows
    "curation_source_reputation_gate",  # 1-row broadcast corpus mean over #sources rows
    "monitor_unigram_kl_drift",  # 1-row broadcast totals + 1-row KL total over vocab rows
    "sim_recall_at_k_eval",  # bounded 20-query eval batch x corpus: exact ground-truth pass
    "sim_knn_label_eval",  # bounded 20-query eval batch x corpus: exact scoring pass
    "diag_key_skew_profile",  # 1-row broadcast totals over #keys rows
    "curation_pack_efficiency",  # 3-row candidate-length frame broadcast: bounded 3x multiplier
    "monitor_source_freshness",  # 1-row global-head broadcast over #sources rows
    "pipeline_contrastive_pairs",  # bounded pair-batch broadcast through the negative scoring pass
    "stats_winsorize_price",  # 1-row boundary frame broadcast through the clip pass
    "stats_bootstrap_poisson",  # 32-row replicate frame broadcast: bounded 32x multiplier
    "pipeline_dataset_card",  # three 1-row summary frames broadcast into the final row
    "sample_negative_table_skipgram",  # 1-row total broadcast over vocab rows
    "dedup_minhash_estimate_audit",  # bounded-sample all-pairs audit baseline (same 256-doc subset as jaccard)
    "pipeline_pretraining_run",  # 1-row broadcast corpus total over #domains rows (mixture plan)
    "privacy_k_anonymity",  # 4-row threshold frame broadcast over QI-group rows
    "stats_ab_cuped",  # 1-row pooled-θ frame broadcast through the adjustment pass
    "er_match_quality",  # 1-row dirty-count frame broadcast into the eval row
    "monitor_data_contract_check",  # 1-row × 1-row rule-summary join
    "stats_mann_whitney_u",  # 1-row × 1-row scalar combine (agg × tie term)
    "sim_pca_power_iteration",  # 1-row norm frame broadcast into the renormalize
    "text_bpe_apply_merge_round2",  # 1-row winning-pair frame broadcast into the fold
    "stats_did_estimator",  # 1-row × 1-row treated/control cell combine
    "stats_power_analysis",  # 1-row moment frame × 4-row lift-literal frame
    "stats_calibration_ece",  # 1-row total + 1-row ECE sum broadcast onto 10 bins
    "stats_brier_decomposition",  # same 1-row [lo,hi] span broadcast as the ECE query
    "stats_isotonic_calibration",  # 1-row date-span frame broadcast onto the scoring scan
    "stats_mutual_information",  # 1-row corpus-total broadcast onto the joint cells
    "stats_fdr_bh",  # 1-row global-rate frame broadcast into the per-nation tests
    "retrieval_ndcg_mrr_eval",  # 5-row query frame broadcast across the candidate scan (batch-scoring contract, same shape as sim_gemm_batch_topk)
    "sample_target_encode_kfold",  # 1-row global-prior frame broadcast onto the cells
    "stats_uplift_qini_deciles",  # 1-row date-span frame broadcast onto the scoring scan
    "sim_embedding_drift_monitor",  # 1-row cohort-split scalar broadcast onto the scan
    "stats_kruskal_wallis",  # 1-row tie-term frame broadcast into the H expression
    "privacy_dp_quantile",  # <=20-bin cumulative triangle join over the public bin grid
    "sample_importance_clipped",  # 1-row (n, k) totals broadcast onto the weighting scan
    "stats_hodges_lehmann",  # Walsh-average self-join over the ~90-row DAY frame (calendar-bounded, cf. theil_sen) + 1-row result broadcasts
    "stats_runs_test",  # 1-row median frame broadcast onto the ~90-row day frame
    "monitor_wasserstein_drift",  # <=40-bin cumulative triangle join + 1-row midpoint/total broadcasts
    "dedup_band_row_tradeoff",  # bounded-sample all-pairs kernel x 3-row config broadcast
    "curation_filter_overlap",  # 1-row corpus-count broadcast over the 8-cell frame
    "text_stopword_discovery",  # 1-row corpus-count broadcast over the token-df frame
    "text_boilerplate_templates",  # 1-row corpus-count broadcast over the template frame
    "text_char_trigram_nll",  # 1-row (total, V) broadcast onto the test-trigram scoring scan
    "text_quality_gate_sweep",  # 1-row LM consts + 4-row threshold broadcast over the per-doc frame
    "stats_pinball_loss",  # 1-row time-midpoint broadcast onto the scan (same shape as stats_sign_test_paired)
    # full-probe leg only: below _BITEXT_FULL_PROBE_MAX (512) rows the
    # quantizer probes every cell, so the cell key is a constant and
    # Catalyst folds the equi-join into a BroadcastNestedLoopJoin — an
    # INTENTIONAL bounded all-pairs leg (≤ 512×512/4 candidate pairs by
    # the cutoff; the >512-row probe path keeps the real cell equi-join)
    "sim_bitext_margin_pairs",
}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


_QUERY_PLANS: dict[str, str] = {}


def _query_plan(spark, name: str) -> str:
    """Executed plan of registry query ``name`` at SF, built once per
    session: the per-query guards below all read the same plan, and the
    build (eager fixture-scale sections, then planning) is what costs."""
    if name not in _QUERY_PLANS:
        _QUERY_PLANS[name] = _plan(registry.all_queries()[name](spark, SF))
    return _QUERY_PLANS[name]


def unpartitioned_windows(plan: str) -> list[str]:
    """Window operator lines whose partition spec is EMPTY (the
    single-partition `WindowExec: No Partition Defined` shape). A Window
    node prints `Window [exprs], [partSpec], [orderSpec]` — two top-level
    bracket groups instead of three means no partition spec."""
    import re

    bad = []
    for line in plan.splitlines():
        m = re.search(r"\bWindow (\[.*\])\s*$", line)
        if not m:
            continue
        # split into top-level [..] groups: `Window [exprs](, [part])(, [order])`
        groups: list[str] = []
        depth = 0
        for ch in m.group(1):
            if ch == "[":
                depth += 1
                if depth == 1:
                    groups.append("")
                    continue
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    continue
            if depth >= 1:
                groups[-1] += ch
        # 3 groups → partition spec present; 2 groups are ambiguous between
        # `[exprs], [part]` (fine) and `[exprs], [order]` (single-partition):
        # only ordering specs carry sort directions
        if len(groups) == 3:
            continue
        if len(groups) == 2 and not re.search(r"(ASC|DESC) NULLS", groups[1]):
            continue
        bad.append(line.strip())
    return bad


# EMPTY since round 3: the last two bounded-frame single-partition windows
# (q15's scalar MAX, the price-histogram share normalization) were rewritten
# as persisted-frame + 1-row broadcast scalar joins — every query in the
# registry now plans zero unpartitioned ordered windows, no exceptions.
UNPARTITIONED_WINDOW_WHITELIST: set[str] = set()


def test_dim_build_split_join_has_no_broadcast_hint(spark, tmp_path):
    """The old-vs-new split in the gold dim builder joins the FULL
    existing-dimension key snapshot — an unbounded frame under the repo's
    broadcast policy, so the plan must carry no forced broadcast hint
    (AQE chooses the strategy at runtime)."""
    import datetime as dt

    from databricks_end_to_end_lakeflow_project_spark.operators.cdc import (
        ManagedParquetTable,
    )
    from databricks_end_to_end_lakeflow_project_spark.plans.gold import (
        DimConfig,
        build_dim,
    )

    target = ManagedParquetTable(spark, str(tmp_path / "dim"))
    cfg = DimConfig(name="d", business_keys=["bk"], surrogate_key="sk")
    clock = dt.datetime(2024, 1, 1)
    src1 = spark.createDataFrame(
        [(1, "a", dt.datetime(2024, 1, 1))], "bk long, attr string, modifiedDate timestamp"
    )
    build_dim(src1, target, cfg, clock=clock)
    src2 = spark.createDataFrame(
        [(1, "a2", dt.datetime(2024, 2, 1)), (2, "b", dt.datetime(2024, 2, 1))],
        "bk long, attr string, modifiedDate timestamp",
    )
    batch = build_dim(src2, target, cfg, clock=clock)
    analyzed = batch._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed
    # correctness unchanged: existing key kept its surrogate, new key got the next
    rows = {r["bk"]: r["sk"] for r in target.read().collect()}
    assert rows == {1: 1, 2: 2}


def test_dim_surrogate_assignment_plans_partitioned_window(spark, tmp_path):
    """The surrogate-key rank must go through scalerank: the assignment
    plan — the one build_dim executes for the INITIAL load, where the
    batch is the whole dimension — may contain no unpartitioned window,
    for string and numeric business keys alike. Keys stay dense,
    deterministic and ordered by the business key (old window semantics)."""
    import datetime as dt

    from databricks_end_to_end_lakeflow_project_spark.plans.gold import (
        DimConfig,
        assign_surrogate_keys,
    )

    # string business key (flight-pipeline shape) — full initial load
    rows = [(f"bk{i:03d}", f"attr{i}", dt.datetime(2024, 1, 1 + i % 27)) for i in range(300)]
    new = spark.createDataFrame(rows, "code string, attr string, modifiedDate timestamp")
    cfg = DimConfig(name="d", business_keys=["code"], surrogate_key="sk")
    out = assign_surrogate_keys(new, cfg, max_key=100)
    assert unpartitioned_windows(_plan(out)) == []
    got = {r["code"]: r["sk"] for r in out.collect()}
    want = {c: 101 + i for i, c in enumerate(sorted(got))}
    assert got == want
    new.unpersist()

    # composite numeric+string key
    rows2 = [(i % 7, f"s{i:02d}", dt.datetime(2024, 2, 1)) for i in range(50)]
    new2 = spark.createDataFrame(rows2, "a long, b string, modifiedDate timestamp")
    cfg2 = DimConfig(name="d2", business_keys=["a", "b"], surrogate_key="sk")
    out2 = assign_surrogate_keys(new2, cfg2, max_key=0)
    assert unpartitioned_windows(_plan(out2)) == []
    ordered = sorted((r["a"], r["b"]) for r in new2.collect())
    got2 = {(r["a"], r["b"]): r["sk"] for r in out2.collect()}
    assert got2 == {k: i + 1 for i, k in enumerate(ordered)}
    new2.unpersist()


def test_dim_build_releases_its_cache_when_the_upsert_fails(spark, tmp_path, monkeypatch):
    """A failed dimension upsert leaves no cache entry behind: the
    resolved batch `build_dim` persists is released in a ``finally``."""
    import datetime as dt

    from databricks_end_to_end_lakeflow_project_spark.operators.cdc import (
        ManagedParquetTable,
    )
    from databricks_end_to_end_lakeflow_project_spark.plans.gold import (
        DimConfig,
        build_dim,
    )

    schema = "bk long, attr string, modifiedDate timestamp"
    target = ManagedParquetTable(spark, str(tmp_path / "dim"))
    cfg = DimConfig(name="d", business_keys=["bk"], surrogate_key="sk")
    clock = dt.datetime(2024, 1, 1)
    build_dim(spark.createDataFrame([(1, "a", clock)], schema), target, cfg, clock=clock)
    spark.catalog.clearCache()

    def failing_upsert(self, *args, **kwargs):
        raise RuntimeError("upsert failed")

    monkeypatch.setattr(ManagedParquetTable, "upsert", failing_upsert)
    src = spark.createDataFrame(
        [(1, "a2", dt.datetime(2024, 2, 1)), (2, "b", dt.datetime(2024, 2, 1))], schema
    )
    with pytest.raises(RuntimeError, match="upsert failed"):
        build_dim(src, target, cfg, clock=clock)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


_PKG = "databricks_end_to_end_lakeflow_project_spark"

# The ONLY package functions reachable from query bodies that may touch a
# session conf. Each is individually safe:
#   cloned_session      — writes exclusively to the session it just created
#                         with newSession() (own SQLConf); the caller's
#                         session is read, never written.
#   ensure_nanos_as_long — writes one CONSTANT value, never restored or
#                         unset (monotone): a concurrent query observes
#                         either the default or `true`, and every events
#                         reader calls it before its first scan, so there
#                         is no window where a wrong value is visible.
MONOTONE_CONF_HELPERS = {"cloned_session", "ensure_nanos_as_long"}


_CALLEE_CACHE: dict = {}


def _package_callees(fn):
    """Resolve the package-internal functions ``fn``'s body calls: names
    and dotted attributes from its globals, plus ``from X import Y``
    statements inside the body (local imports are the package's house
    style)."""
    import ast
    import importlib
    import inspect
    import textwrap

    if fn in _CALLEE_CACHE:
        return _CALLEE_CACHE[fn]
    try:
        tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
    except (OSError, TypeError, SyntaxError):
        return []
    local_imports = {}
    called = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module and node.module.startswith(_PKG):
            for alias in node.names:
                local_imports[alias.asname or alias.name] = (node.module, alias.name)
        elif isinstance(node, ast.Call):
            f = node.func
            if isinstance(f, ast.Name):
                called.add((f.id,))
            elif isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name):
                called.add((f.value.id, f.attr))
    out = []
    g = getattr(fn, "__globals__", {})
    for parts in called:
        obj = None
        if parts[0] in local_imports:
            mod_name, attr = local_imports[parts[0]]
            try:
                obj = getattr(importlib.import_module(mod_name), attr, None)
            except ImportError:
                obj = None
        elif len(parts) == 1:
            obj = g.get(parts[0])
        else:
            base = g.get(parts[0])
            if base is not None:
                obj = getattr(base, parts[1], None)
        if callable(obj) and (getattr(obj, "__module__", None) or "").startswith(_PKG):
            out.append(obj)
    _CALLEE_CACHE[fn] = out
    return out


def test_no_conf_set_in_query_bodies():
    """No registry query may mutate the caller's session conf — two
    queries running concurrently in one session must never observe each
    other's settings. Eager fixture-scale sections that want a different
    shuffle width use ``session.cloned_session`` (own SQLConf) instead;
    streaming drains route overrides through ``run_to_memory``'s builder
    form (which clones). The walk covers each query's OWN source plus the
    transitive closure of package-internal callees (depth 3 — enough for
    query → business_silver_stream → run_to_memory), so a helper doing
    the mutation one call deep no longer escapes (the round-8 loophole).
    Only the justified ``MONOTONE_CONF_HELPERS`` may touch a conf."""
    import inspect

    from databricks_end_to_end_lakeflow_project_spark.registry import _QUERIES, _collect

    _collect()
    offenders = []
    seen_safe: set[str] = set()
    for name, fn in _QUERIES.items():
        frontier = [(fn, 0)]
        visited = set()
        while frontier:
            f, depth = frontier.pop()
            qual = f"{getattr(f, '__module__', '?')}.{getattr(f, '__qualname__', '?')}"
            if qual in visited:
                continue
            visited.add(qual)
            if getattr(f, "__name__", "") in MONOTONE_CONF_HELPERS:
                continue
            if qual not in seen_safe:
                try:
                    src = inspect.getsource(f)
                except (OSError, TypeError):
                    continue
                if "conf.set" in src or "conf.unset" in src:
                    offenders.append(f"{name} via {qual}")
                    continue
                seen_safe.add(qual)
            if depth < 3:
                frontier.extend((c, depth + 1) for c in _package_callees(f))
    assert not offenders, offenders


def test_conf_guard_catches_helper_mutation():
    """The guard must flag a conf mutation one call DEEP (the exact
    round-8 blind spot), not just in the query body itself."""
    import databricks_end_to_end_lakeflow_project_spark.session as sess_mod

    def naughty_helper(spark):
        spark.conf.set("spark.sql.shuffle.partitions", "1")

    naughty_helper.__module__ = sess_mod.__name__

    def fake_query(spark, sf_dir):
        naughty_helper(spark)

    fake_query.__globals__["naughty_helper"] = naughty_helper
    try:
        callees = _package_callees(fake_query)
        assert any(c is naughty_helper for c in callees)
        import inspect

        assert "conf.set" in inspect.getsource(naughty_helper)
    finally:
        fake_query.__globals__.pop("naughty_helper", None)


def test_unpartitioned_window_detector(spark):
    """The detector must flag a genuinely global ordered window and pass
    partition-only and partition+order windows."""
    from pyspark.sql import Window

    df = spark.range(10).withColumn("g", F.col("id") % 2)
    glob = df.withColumn("r", F.row_number().over(Window.orderBy("id")))
    part_only = df.withColumn("s", F.sum("id").over(Window.partitionBy("g")))
    part_ord = df.withColumn(
        "r", F.row_number().over(Window.partitionBy("g").orderBy("id"))
    )
    assert unpartitioned_windows(_plan(glob)), "global window must be flagged"
    assert unpartitioned_windows(_plan(part_only)) == []
    assert unpartitioned_windows(_plan(part_ord)) == []


@pytest.mark.parametrize("name", sorted(registry.all_queries()))
def test_no_unpartitioned_window(spark, name):
    """No query outside the whitelist may plan a single-partition window
    over an unbounded frame — the global-sort 100TB-killer. Exact global
    order statistics go through operators/scalerank.py instead."""
    if name in UNPARTITIONED_WINDOW_WHITELIST:
        pytest.skip("documented bounded-frame / global-sequence window")
    bad = unpartitioned_windows(_query_plan(spark, name))
    assert not bad, f"{name}: {bad}"


@pytest.mark.parametrize("name", sorted(registry.all_queries()))
def test_no_accidental_cartesian(spark, name):
    """No query outside the whitelist may plan a cartesian/nested-loop
    join — the classic silent 100TB-killer."""
    if name in NON_EQUI_WHITELIST:
        pytest.skip("intentional all-pairs/cross join")
    plan = _query_plan(spark, name)
    assert "CartesianProduct" not in plan, name
    assert "BroadcastNestedLoopJoin" not in plan, name


def test_bucketed_join_has_no_join_shuffle(spark):
    """With broadcast off, the co-bucketed join must sort-merge WITHOUT a
    hash-partition exchange on either input: bucketing already satisfies
    the join's distribution requirement."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        df = sink_bucketed_colocated_join(spark, SF)
        plan = _plan(df)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning(l_orderkey" not in plan
        assert "Exchange hashpartitioning(o_orderkey" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


def test_partitioned_read_prunes(spark):
    """The status filter must appear as PartitionFilters (directory
    pruning), not a row-level DataFilter."""
    df = sink_partitioned_pruning(spark, SF)
    plan = _plan(df)
    assert "PartitionFilters: [isnotnull(o_orderstatus" in plan
    assert "(o_orderstatus" in plan.split("PartitionFilters:")[1].split("]")[0]


def test_flagship_pushes_filter_to_scan(spark):
    """Predicate pushdown + column pruning on the fact scan."""
    df = registry.all_queries()["flagship_star_revenue"](spark, SF)
    plan = _plan(df)
    scan = next(l for l in plan.splitlines() if "lineitem" in l and "FileScan" in l)
    assert "GreaterThanOrEqual(l_shipdate" in scan
    assert "l_comment" not in scan  # pruned (not even a column here, but guards regressions)
    assert "ReadSchema" in scan


def test_q15_scans_fact_once(spark):
    """The CTE-consumed-twice shape must not scan lineitem twice at
    runtime: the per-supplier revenue frame is persisted and BOTH
    consumers (1-row scalar MAX + broadcast threshold filter) read the
    cache. In the printed plan every lineitem FileScan line is a copy
    of the cached relation's build plan (one per InMemoryTableScan);
    an uncached extra scan would break the equality."""
    df = registry.all_queries()["q15_top_supplier"](spark, SF)
    plan = _plan(df)
    scans = [l for l in plan.splitlines() if "FileScan" in l and "lineitem" in l]
    n_cached = plan.count("InMemoryTableScan")
    assert n_cached == 2, plan
    assert len(scans) == n_cached, plan


def test_q19_part_join_is_broadcast_with_derived_pushdown(spark):
    """The disjunctive-predicate join must broadcast the dim side, and
    the scan of part must carry SOME pushed filter derived from the OR
    (brand membership), not read the dim unfiltered."""
    df = registry.all_queries()["q19_disjunctive_revenue"](spark, SF)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    scan = next(l for l in plan.splitlines() if "FileScan" in l and "/part.parquet" in l)
    assert "p_brand" in scan  # In(p_brand, [...]) pushed from the OR


def test_compact_small_files(spark, tmp_path):
    """Compaction must cut the file count to the bin-packed target and
    preserve every row."""
    from databricks_end_to_end_lakeflow_project_spark.operators.partitioning import (
        compact_small_files,
    )
    from databricks_end_to_end_lakeflow_project_spark.sources.readers import read_table

    src = str(tmp_path / "fragmented")
    dst = str(tmp_path / "compacted")
    events = read_table(spark, SF, "events")
    events.repartition(64).write.parquet(src)  # simulate per-trigger small files
    n_rows = events.count()
    frag_bytes = sum(f.stat().st_size for f in (tmp_path / "fragmented").rglob("*.parquet"))
    n_files = compact_small_files(spark, src, dst, target_bytes=frag_bytes // 4 + 1)
    assert n_files <= 4
    assert spark.read.parquet(dst).count() == n_rows


def test_q2_prunes_fact_before_min_aggregate(spark):
    """The correlated-MIN join-back must semi-join-prune lineitem against
    the filtered part dim BEFORE aggregating: both lineitem consumers read
    through a BroadcastHashJoin LeftSemi, and the part scan carries the
    pushed size filter."""
    df = registry.all_queries()["q2_min_cost_supplier"](spark, SF)
    plan = _plan(df)
    assert "BuildRight, LeftSemi" in plan or "LeftSemi, BuildRight" in plan, plan
    part_scans = [
        l for l in plan.splitlines() if "FileScan" in l and "/part.parquet" in l
    ]
    assert part_scans and all("LessThanOrEqual(p_size,5)" in s for s in part_scans)


def test_compact_small_files_shuffle_path(spark, tmp_path):
    """shuffle=True must rebalance via repartition and still preserve rows."""
    from databricks_end_to_end_lakeflow_project_spark.operators.partitioning import (
        compact_small_files,
    )
    from databricks_end_to_end_lakeflow_project_spark.sources.readers import read_table

    src = str(tmp_path / "frag")
    dst = str(tmp_path / "comp")
    ev = read_table(spark, SF, "events")
    ev.repartition(16).write.parquet(src)
    total = sum(f.stat().st_size for f in (tmp_path / "frag").rglob("*.parquet"))
    n = compact_small_files(spark, src, dst, target_bytes=total + 1, shuffle=True)
    assert n == 1
    assert spark.read.parquet(dst).count() == ev.count()


def test_contamination_broadcasts_benchmark_set(spark):
    """The benchmark gram set must broadcast — the corpus side of the
    contamination join is the 100TB side and must never shuffle."""
    from databricks_end_to_end_lakeflow_project_spark.operators.curation import (
        dedup_contamination_ngram,
    )

    plan = _plan(dedup_contamination_ngram(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_sessionize_single_exchange(spark):
    """Sessionization's window and per-user aggregate share one
    hash-partitioning on user_id: the groupBy must reuse the window's
    exchange, not add a second shuffle."""
    from databricks_end_to_end_lakeflow_project_spark.operators.curation import (
        events_sessionize,
    )

    plan = _plan(events_sessionize(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1


def test_dynamic_partition_pruning_engages(spark):
    """The partitioned-fact ⋈ filtered-dim join must carry a
    dynamicpruning subquery in the fact scan's PartitionFilters — the
    runtime mechanism that keeps a 100 TB partitioned fact from reading
    partitions the filtered dimension never touches."""
    from databricks_end_to_end_lakeflow_project_spark.operators.partitioning import (
        join_dynamic_partition_pruning,
    )

    plan = _plan(join_dynamic_partition_pruning(spark, SF))
    assert "dynamicpruning" in plan


def test_runtime_bloom_filter_join_reduction(spark):
    """With a selective dim filter and a shuffle join, Spark injects a
    runtime bloom filter: the fact side is pre-filtered by
    might_contain(bloom(o_orderkey)) BEFORE the shuffle — the row-level
    companion to dynamic partition pruning. Thresholds are lowered here
    because the test corpus is tiny; at production sizes the defaults
    engage. Results must equal the plain join exactly."""
    from databricks_end_to_end_lakeflow_project_spark.sources.readers import read_table
    from pyspark.sql import functions as F

    li = read_table(spark, SF, "lineitem")
    od = read_table(spark, SF, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )

    def run():
        return (
            li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("l_returnflag")
            .count()
        )

    want = {(r["l_returnflag"], r["count"]) for r in run().collect()}
    overrides = {
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100000000",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        df = run()
        plan = _plan(df)
        assert "might_contain" in plan and "bloom_filter_agg" in plan
        got = {(r["l_returnflag"], r["count"]) for r in df.collect()}
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert got == want


def test_aqe_skew_join_splits_hot_partition(spark):
    """AQE must mark and split the hot key's partition at runtime —
    SortMergeJoin(skew=true) in the EXECUTED plan — with results equal
    to the unsplit join. Thresholds are lowered because the test data is
    small; at production shuffle sizes the defaults engage. This is the
    runtime half of the engine's skew story (deterministic salting in
    `salted_join` is the planned half)."""
    from pyspark.sql import functions as F

    hot = spark.range(200_000).select(
        F.lit(0).alias("k"), F.col("id").alias("payload")
    )
    cold = spark.range(10_000).select(
        (F.col("id") % 1000 + 1).alias("k"), F.col("id").alias("payload")
    )
    left = hot.unionAll(cold)
    right = spark.range(1001).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("rv")
    )

    def run():
        return (
            left.join(right, "k")
            .groupBy()
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("payload") + F.col("rv")).alias("s"),
            )
        )

    want = run().collect()[0]
    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    old = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        df = run()
        got = df.collect()[0]  # execute FIRST: AQE decides at runtime
        plan = _plan(df)
        assert "skew=true" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert (got["n"], got["s"]) == (want["n"], want["s"])


def test_bigram_nll_broadcasts_lm_tables(spark):
    """Both LM tables (bigram counts, context totals) and the unigram
    model must reach the bigram stream as broadcast joins — the token
    stream itself is never shuffled for the probability lookup."""
    from databricks_end_to_end_lakeflow_project_spark.operators.textops import (
        text_bigram_nll,
    )

    plan = _plan(text_bigram_nll(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_autocorr_single_resample_exchange(spark):
    """The hourly resample is the only table-sized shuffle: the lag
    window and final corr agg run on the collapsed |types|x|hours|
    frame."""
    from databricks_end_to_end_lakeflow_project_spark.operators.eventseries import (
        ts_autocorr_lags,
    )

    plan = _plan(ts_autocorr_lags(spark, SF))
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_epoch_shuffle_is_hash_sharded_not_range_sorted(spark):
    """The epoch shuffle's whole point is a deterministic global order
    WITHOUT a global sort: the plan must carry exactly one hash exchange
    on the shard digit and NO range exchange (a range exchange would be
    Spark's sampled total sort — skew-prone and needless here)."""
    from databricks_end_to_end_lakeflow_project_spark.operators.sampling import (
        sample_epoch_shuffle,
    )

    plan = _plan(sample_epoch_shuffle(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in plan


def test_persist_once_skips_plan_identical_cache_entries(spark):
    """persist_once must not re-register a canonical plan the
    CacheManager already holds (the `Asked to cache already cached
    data` warning the bench tripped on repeat runs), and must still
    persist a genuinely new plan."""
    from pyspark.sql import functions as F

    from databricks_end_to_end_lakeflow_project_spark.session import persist_once

    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()

    a = persist_once(spark.range(100).select((F.col("id") * 3).alias("x")))
    a.count()
    assert a.is_cached
    # fresh object, identical canonical plan: must NOT persist again,
    # but the cache entry still substitutes at planning time
    b = spark.range(100).select((F.col("id") * 3).alias("x"))
    b2 = persist_once(b)
    assert not b2.is_cached  # object-local flag untouched — no re-register
    assert cm.lookupCachedData(b2._jdf).isDefined()
    # a different plan still persists normally
    c = persist_once(spark.range(100).select((F.col("id") * 4).alias("x")))
    assert c.is_cached
    spark.catalog.clearCache()
