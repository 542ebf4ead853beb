"""Property-based tests (hypothesis) for the as-of join.

The union+window as-of plan (operators/asof.py) is checked against a
pure-Python reference over generated tables: for every left row, the
matched right row must be the max-``right_ts`` row with
``right_ts <= left_ts`` (``<`` when strict) among equal keys — NULL when
none — regardless of duplicates on the left, keys missing from either
side, or timestamp collisions between the sides. Also: batch/partition
layout must not matter.

Example counts are small on purpose (each example is several Spark
jobs); the value is the adversarial shapes — ties at equal timestamps,
left-only and right-only keys, repeated left timestamps.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from databricks_end_to_end_lakeflow_project_spark.operators.asof import asof_join
from tests.conftest import arrow_frame

# timestamps as small ints (the plan only compares/orders them); right
# rows unique per (key, ts) as the operator requires
_left = st.lists(
    st.tuples(st.sampled_from("AB"), st.integers(0, 12)),
    min_size=1,
    max_size=8,
).map(lambda rows: [(k, t, i) for i, (k, t) in enumerate(rows)])

_right = st.lists(
    st.tuples(st.sampled_from("AB"), st.integers(0, 12)),
    min_size=0,
    max_size=8,
    unique=True,
).map(lambda rows: [(k, t, 100 + i) for i, (k, t) in enumerate(rows)])


def _model(left, right, strict):
    out = {}
    for k, lt, lid in left:
        best = None
        for rk, rt, rv in right:
            if rk != k:
                continue
            if (rt < lt) if strict else (rt <= lt):
                if best is None or rt > best[0]:
                    best = (rt, rv)
        out[lid] = best
    return out


@given(left=_left, right=_right, strict=st.booleans(), parts=st.integers(1, 3))
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_asof_join_matches_reference_model(spark, left, right, strict, parts):
    ldf = arrow_frame(spark, left, "key string, lts int, lid int").repartition(parts)
    rdf = arrow_frame(
        spark, right or [("Z", -99, -1)], "key string, rts int, rval int"
    ).repartition(parts)
    got = {
        r["lid"]: (r["rts"], r["rval"])
        if r["rts"] is not None
        else None
        for r in asof_join(
            ldf, rdf, ["key"], "lts", "rts", ["rval"], strict=strict
        ).collect()
    }
    want = _model(left, right or [("Z", -99, -1)], strict)
    assert got == want


def _model_forward(left, right, strict):
    out = {}
    for k, lt, lid in left:
        best = None
        for rk, rt, rv in right:
            if rk != k:
                continue
            if (rt > lt) if strict else (rt >= lt):
                if best is None or rt < best[0]:
                    best = (rt, rv)
        out[lid] = best
    return out


@given(left=_left, right=_right, strict=st.booleans(), parts=st.integers(1, 3))
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_asof_join_forward_matches_reference_model(spark, left, right, strict, parts):
    ldf = arrow_frame(spark, left, "key string, lts int, lid int").repartition(parts)
    rdf = arrow_frame(
        spark, right or [("Z", -99, -1)], "key string, rts int, rval int"
    ).repartition(parts)
    got = {
        r["lid"]: (r["rts"], r["rval"])
        if r["rts"] is not None
        else None
        for r in asof_join(
            ldf, rdf, ["key"], "lts", "rts", ["rval"], strict=strict, forward=True
        ).collect()
    }
    want = _model_forward(left, right or [("Z", -99, -1)], strict)
    assert got == want
