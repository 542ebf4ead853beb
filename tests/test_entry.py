from __future__ import annotations

import __spark_entry__ as entrymod


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.limit(5).collect()
    assert len(rows) > 0
    assert {"region_name", "nation_name", "order_month", "revenue", "n_items"} == set(df.columns)


def test_queries_have_callables_and_oracles(spark):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert "flagship_star_revenue" in qs
    # every oracle key must have a query
    assert set(oracles) <= set(qs)


def test_headline_queries_run(spark, sf_dir):
    qs = entrymod.queries()
    for name in ["q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume"]:
        assert qs[name](spark, sf_dir).count() > 0


def test_default_driver_memory_is_half_the_host_capped_at_24g(tmp_path):
    from databricks_end_to_end_lakeflow_project_spark.session import (
        default_driver_memory,
    )

    def host(kb):
        p = tmp_path / f"meminfo_{kb}"
        p.write_text(f"MemFree:         1000 kB\nMemTotal:       {kb} kB\n")
        return str(p)

    assert default_driver_memory(host(16479424)) == "8046m"  # a 15.7 GiB host
    assert default_driver_memory(host(64 * 1024 * 1024)) == "24g"  # 64 GiB
    assert default_driver_memory(host(48 * 1024 * 1024)) == "24g"  # exactly 2×24g
    assert default_driver_memory(str(tmp_path / "absent")) == "24g"
