"""Property-based oracle fuzzing for the relational core.

All 424 registry oracles run on FIXED fixtures; the asc_seq crash class
(round 8) was found by an advisor on degenerate inputs, not by the suite.
This harness closes that gap: hypothesis generates small adversarial
frames — empty relations, single rows, all-NULL columns, narrow domains
so keys/groups/values tie everywhere — and round-trips ~20 core
operators (joins, aggregates, windows, set ops, top-k, scalar exprs)
through Spark AND DuckDB on the SAME generated data, comparing
canonicalized row multisets exactly.

Batching: local-mode job overhead is ~0.3-0.7 s per collect regardless
of data size, so each hypothesis example carries EX_PER_JOB=5
independent frame-pairs tagged with an ``eid`` column and every operator
is applied per-eid (join keys include eid, aggregates/windows group or
partition by eid, set ops distinguish rows by eid automatically). Rows
from different logical examples can never interact, so this is 5
examples for the price of one Spark job: the default 12 hypothesis
examples per operator = 60 logical examples, and the whole 22-operator
module stays under the 5-minute budget.

Null-semantics notes encoded in the SQL mirrors:
- Spark's default sort order is ASC NULLS FIRST → every ORDER BY in a
  window mirror says NULLS FIRST explicitly (DuckDB defaults LAST);
- equi-joins never match NULL keys in either engine (EXISTS mirrors);
- USING-style joins coalesce the key on both engines (the DuckDB mirror
  coalesces explicitly);
- set ops treat NULLs as equal in both engines.
"""

from __future__ import annotations

import math
import os

import duckdb
import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from databricks_end_to_end_lakeflow_project_spark.session import cloned_session
from tests.conftest import arrow_frame

MAX_EXAMPLES = int(os.environ.get("SPARK_GRAFT_FUZZ_EXAMPLES", "12"))
EX_PER_JOB = 5

_key = st.one_of(st.none(), st.integers(0, 4))
_grp = st.one_of(st.none(), st.sampled_from(["a", "b", "c"]))
_val = st.one_of(st.none(), st.integers(-5, 5))
_row = st.tuples(_key, _grp, _val)
_frame = st.lists(_row, min_size=0, max_size=12)
_batch = st.lists(st.tuples(_frame, _frame), min_size=EX_PER_JOB, max_size=EX_PER_JOB)

_SCHEMA = "eid int, k int, g string, v int"


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.12g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _rows_of(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


def _tag(batch, side):
    return [
        (eid, k, g, v)
        for eid, pair in enumerate(batch)
        for (k, g, v) in pair[side]
    ]


def _arrow(rows):
    es, ks, gs, vs = zip(*rows) if rows else ((), (), (), ())
    return pa.table(
        {
            "eid": pa.array(es, type=pa.int32()),
            "k": pa.array(ks, type=pa.int32()),
            "g": pa.array(gs, type=pa.string()),
            "v": pa.array(vs, type=pa.int32()),
        }
    )


def _aliased(df, suffix):
    return df.select(
        "eid", "k", F.col("g").alias(f"g{suffix}"), F.col("v").alias(f"v{suffix}")
    )


def _null_safe_join(a, b):
    a2 = _aliased(a, 1)
    b2 = _aliased(b, 2).withColumnRenamed("k", "k2").withColumnRenamed("eid", "e2")
    return a2.join(
        b2, (a2["eid"] == b2["e2"]) & a2["k"].eqNullSafe(b2["k2"])
    ).select("eid", "k", "g1", "v1", "g2", "v2")


def _topk(a, b):
    w = Window.partitionBy("eid").orderBy(F.desc_nulls_last("v"), "k", "g")
    return a.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)


# each case: (name, spark_fn(a, b) -> DataFrame, duckdb_sql over views t1/t2)
OPS = [
    (
        "join_inner",
        lambda a, b: _aliased(a, 1).join(_aliased(b, 2), ["eid", "k"]),
        "SELECT t1.eid AS eid, t1.k AS k, t1.g AS g1, t1.v AS v1, "
        "t2.g AS g2, t2.v AS v2 "
        "FROM t1 JOIN t2 ON t1.eid = t2.eid AND t1.k = t2.k",
    ),
    (
        "join_left",
        lambda a, b: _aliased(a, 1).join(_aliased(b, 2), ["eid", "k"], "left"),
        "SELECT t1.eid AS eid, t1.k AS k, t1.g AS g1, t1.v AS v1, "
        "t2.g AS g2, t2.v AS v2 "
        "FROM t1 LEFT JOIN t2 ON t1.eid = t2.eid AND t1.k = t2.k",
    ),
    (
        "join_full_outer",
        lambda a, b: _aliased(a, 1).join(_aliased(b, 2), ["eid", "k"], "full"),
        "SELECT COALESCE(t1.eid, t2.eid) AS eid, COALESCE(t1.k, t2.k) AS k, "
        "t1.g AS g1, t1.v AS v1, t2.g AS g2, t2.v AS v2 "
        "FROM t1 FULL JOIN t2 ON t1.eid = t2.eid AND t1.k = t2.k",
    ),
    (
        "join_left_semi",
        lambda a, b: a.join(b.select("eid", "k"), ["eid", "k"], "left_semi"),
        "SELECT eid, k, g, v FROM t1 WHERE EXISTS "
        "(SELECT 1 FROM t2 WHERE t2.eid = t1.eid AND t2.k = t1.k)",
    ),
    (
        "join_left_anti",
        lambda a, b: a.join(b.select("eid", "k"), ["eid", "k"], "left_anti"),
        "SELECT eid, k, g, v FROM t1 WHERE NOT EXISTS "
        "(SELECT 1 FROM t2 WHERE t2.eid = t1.eid AND t2.k = t1.k)",
    ),
    (
        "join_null_safe",
        _null_safe_join,
        "SELECT t1.eid AS eid, t1.k AS k, t1.g AS g1, t1.v AS v1, "
        "t2.g AS g2, t2.v AS v2 FROM t1 JOIN t2 "
        "ON t1.eid = t2.eid AND t1.k IS NOT DISTINCT FROM t2.k",
    ),
    (
        "agg_per_example",
        lambda a, b: a.groupBy("eid").agg(
            F.count(F.lit(1)).alias("n"),
            F.count("v").alias("nv"),
            F.sum("v").alias("s"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
            F.avg("v").alias("av"),
        ),
        "SELECT eid, COUNT(*) AS n, COUNT(v) AS nv, SUM(v) AS s, "
        "MIN(v) AS mn, MAX(v) AS mx, AVG(v) AS av FROM t1 GROUP BY eid",
    ),
    (
        "agg_group",
        lambda a, b: a.groupBy("eid", "g").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("s"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        ),
        "SELECT eid, g, COUNT(*) AS n, SUM(v) AS s, MIN(v) AS mn, "
        "MAX(v) AS mx FROM t1 GROUP BY eid, g",
    ),
    (
        "agg_count_distinct",
        lambda a, b: a.groupBy("eid", "g").agg(
            F.countDistinct("v").alias("ndv"),
            F.countDistinct("k", "v").alias("nkv"),
        ),
        "SELECT eid, g, COUNT(DISTINCT v) AS ndv, "
        "COUNT(DISTINCT CASE WHEN k IS NOT NULL AND v IS NOT NULL "
        "THEN k * 1000 + v END) AS nkv FROM t1 GROUP BY eid, g",
    ),
    (
        "agg_having",
        lambda a, b: a.groupBy("eid", "g")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1),
        "SELECT eid, g, COUNT(*) AS n FROM t1 GROUP BY eid, g "
        "HAVING COUNT(*) > 1",
    ),
    (
        "agg_two_level",
        lambda a, b: a.groupBy("eid", "g", "k")
        .agg(F.sum("v").alias("s"))
        .groupBy("eid", "g")
        .agg(F.count(F.lit(1)).alias("nk"), F.sum("s").alias("ss")),
        "SELECT eid, g, COUNT(*) AS nk, SUM(s) AS ss FROM "
        "(SELECT eid, g, k, SUM(v) AS s FROM t1 GROUP BY eid, g, k) "
        "GROUP BY eid, g",
    ),
    (
        "distinct_rows",
        lambda a, b: a.distinct(),
        "SELECT DISTINCT eid, k, g, v FROM t1",
    ),
    (
        "union_all",
        lambda a, b: a.unionByName(b),
        "SELECT eid, k, g, v FROM t1 UNION ALL SELECT eid, k, g, v FROM t2",
    ),
    (
        "union_distinct",
        lambda a, b: a.unionByName(b).distinct(),
        "SELECT eid, k, g, v FROM t1 UNION SELECT eid, k, g, v FROM t2",
    ),
    (
        "intersect_distinct",
        lambda a, b: a.intersect(b),
        "SELECT eid, k, g, v FROM t1 INTERSECT SELECT eid, k, g, v FROM t2",
    ),
    (
        "intersect_all",
        lambda a, b: a.intersectAll(b),
        "SELECT eid, k, g, v FROM t1 INTERSECT ALL "
        "SELECT eid, k, g, v FROM t2",
    ),
    (
        "except_all",
        lambda a, b: a.exceptAll(b),
        "SELECT eid, k, g, v FROM t1 EXCEPT ALL SELECT eid, k, g, v FROM t2",
    ),
    (
        "win_row_number",
        lambda a, b: a.withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("eid", "g").orderBy("v", "k")),
        ),
        "SELECT eid, k, g, v, ROW_NUMBER() OVER "
        "(PARTITION BY eid, g ORDER BY v NULLS FIRST, k NULLS FIRST) AS rn "
        "FROM t1",
    ),
    (
        "win_rank_dense",
        lambda a, b: a.select(
            "eid",
            "g",
            "v",
            F.rank().over(Window.partitionBy("eid", "g").orderBy("v")).alias("rk"),
            F.dense_rank()
            .over(Window.partitionBy("eid", "g").orderBy("v"))
            .alias("drk"),
        ),
        "SELECT eid, g, v, "
        "RANK() OVER (PARTITION BY eid, g ORDER BY v NULLS FIRST) AS rk, "
        "DENSE_RANK() OVER (PARTITION BY eid, g ORDER BY v NULLS FIRST) AS drk "
        "FROM t1",
    ),
    (
        "win_lag_lead",
        lambda a, b: a.select(
            "eid",
            "g",
            "v",
            "k",
            F.lag("v")
            .over(Window.partitionBy("eid", "g").orderBy("v", "k"))
            .alias("pv"),
            F.lead("v")
            .over(Window.partitionBy("eid", "g").orderBy("v", "k"))
            .alias("nv"),
        ),
        "SELECT eid, g, v, k, LAG(v) OVER "
        "(PARTITION BY eid, g ORDER BY v NULLS FIRST, k NULLS FIRST) AS pv, "
        "LEAD(v) OVER "
        "(PARTITION BY eid, g ORDER BY v NULLS FIRST, k NULLS FIRST) AS nv "
        "FROM t1",
    ),
    (
        "win_running_sum",
        lambda a, b: a.select(
            "eid",
            "g",
            "v",
            "k",
            F.sum("v")
            .over(
                Window.partitionBy("eid", "g")
                .orderBy("v", "k")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            .alias("rs"),
        ),
        "SELECT eid, g, v, k, SUM(v) OVER "
        "(PARTITION BY eid, g ORDER BY v NULLS FIRST, k NULLS FIRST "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rs FROM t1",
    ),
    (
        "sort_limit_topk",
        _topk,
        "SELECT * FROM (SELECT eid, k, g, v, ROW_NUMBER() OVER "
        "(PARTITION BY eid ORDER BY v DESC NULLS LAST, k NULLS FIRST, "
        "g NULLS FIRST) AS rn FROM t1) WHERE rn <= 3",
    ),
    (
        "scalar_case_cast",
        lambda a, b: a.select(
            "eid",
            "k",
            F.when(F.col("v") > 0, F.lit("pos")).otherwise(F.lit("np")).alias("sgn"),
            F.col("v").cast("double").alias("vd"),
            F.coalesce(F.col("v"), F.lit(0)).alias("v0"),
        ),
        "SELECT eid, k, CASE WHEN v > 0 THEN 'pos' ELSE 'np' END AS sgn, "
        "CAST(v AS DOUBLE) AS vd, COALESCE(v, 0) AS v0 FROM t1",
    ),
]


@pytest.fixture(scope="module")
def tiny(spark):
    """1-partition clone: shuffle width is pure overhead on ≤60-row frames."""
    return cloned_session(
        spark,
        {
            "spark.sql.shuffle.partitions": "1",
            "spark.sql.adaptive.enabled": "false",
        },
    )


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    yield con
    con.close()


@pytest.mark.parametrize("name,spark_fn,sql", OPS, ids=[o[0] for o in OPS])
@settings(
    max_examples=MAX_EXAMPLES,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(batch=_batch)
def test_fuzz_operator_matches_duckdb(name, spark_fn, sql, tiny, duck, batch):
    rows1, rows2 = _tag(batch, 0), _tag(batch, 1)
    a = arrow_frame(tiny, rows1, _SCHEMA)
    b = arrow_frame(tiny, rows2, _SCHEMA)
    sdf = spark_fn(a, b)
    got = _rows_of(sdf.columns, sdf.collect())

    duck.register("t1", _arrow(rows1))
    duck.register("t2", _arrow(rows2))
    cur = duck.execute(sql)
    want = _rows_of([d[0] for d in cur.description], cur.fetchall())

    assert got == want, (
        f"{name}: spark != duckdb on t1={rows1} t2={rows2}\n"
        f"spark={got}\nduck ={want}"
    )
