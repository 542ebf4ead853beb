"""Data-quality expectations: declarative row gates with violation metrics.

Re-expression of DLT expectations (SURVEY.md §2.2 P9 / §2.8 T6; reference
`dlt_bronze_to_silver_pipeline.py:6-12` uses `@dlt.expect_all_or_drop`
with four NOT-NULL rules, and `README.md:94` names the `expect`,
`expect_or_drop`, `expect_all_or_fail` variants).

Implementation: each rule is a SQL boolean expression. The gate is a
pure plan transformation: violation counters ride whatever action
consumes the gated frame (`df.observe`, Spark's Observation API), so a
gated view costs no scan of its own. The gate sits above the observed
node, so the counters still see the rows it drops, and a FAIL gate
aborts that consuming action (a staged table write, before its commit
point) with the dataset and the violated rule names in the message.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from enum import Enum

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


class Policy(str, Enum):
    WARN = "warn"  # keep all rows, record violations (dlt.expect)
    DROP = "drop"  # drop violating rows (dlt.expect_or_drop / expect_all_or_drop)
    FAIL = "fail"  # abort the consuming action on any violation (dlt.expect_all_or_fail)


@dataclass
class ExpectationResult:
    dataset: str
    policy: Policy
    passed_rows: int
    failed_rows: int
    per_rule_failures: dict[str, int] = field(default_factory=dict)


# how long finish() lets Spark's listener bus catch up before it decides
# that no action has run over the gated frame
_LISTENER_DRAIN_MS = 10_000


def _violates(cond: Column) -> Column:
    """A row violates a rule unless the rule is TRUE (NULL violates)."""
    return ~F.coalesce(cond, F.lit(False))


def _failed_rules(rules: dict[str, str]) -> Column:
    """Array of the names of the rules a row violates."""
    return F.array_compact(
        F.array(*[F.when(_violates(F.expr(e)), F.lit(name)) for name, e in rules.items()])
    )


def apply_expectations(
    df: DataFrame,
    rules: dict[str, str],
    policy: Policy = Policy.DROP,
    dataset: str = "<anonymous>",
) -> tuple[DataFrame, Callable[[], ExpectationResult | None]]:
    """Gate ``df`` with ``rules`` ({name: sql_bool_expr}); all rules must
    hold for a row to pass. Returns ``(gated, finish)``; no Spark job
    runs here.

    ``finish()``, called after an action has consumed ``gated``, returns
    the counters that action observed as an :class:`ExpectationResult`,
    or None when there are no rules or no action has run over the frame.
    Only the first action's counts are kept. Under ``Policy.FAIL`` the
    first violating row raises ``USER_RAISED_EXCEPTION`` inside the
    action itself, naming ``dataset`` and the rules the row violates.
    """
    if not rules:
        return df, lambda: None
    all_ok = F.expr(" AND ".join(f"({e})" for e in rules.values()))
    obs = Observation(f"expectations:{dataset}")
    observed = df.observe(
        obs,
        *[
            F.sum(F.when(_violates(F.expr(e)), 1).otherwise(0)).alias(name)
            for name, e in rules.items()
        ],
        F.count(F.lit(1)).alias("__total"),
        F.sum(F.when(_violates(all_ok), 1).otherwise(0)).alias("__failed"),
    )
    if policy is Policy.WARN:
        gated = observed
    elif policy is Policy.DROP:
        gated = observed.filter(F.coalesce(all_ok, F.lit(False)))
    else:
        message = F.concat(
            F.lit(f"{dataset}: row violates expectations "),
            F.array_join(_failed_rules(rules), ", "),
        )
        gated = observed.filter(F.when(all_ok, True).otherwise(F.raise_error(message)))

    def finish() -> ExpectationResult | None:
        # an action's metrics reach the Observation through the listener
        # bus after the action returns: drain it, so a frame no action
        # ran over reads as "no metrics" instead of blocking obs.get
        try:
            df.sparkSession.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(
                _LISTENER_DRAIN_MS
            )
        except Py4JJavaError:
            pass  # bus still busy: judge by what has arrived
        if not obs._jo.future().isCompleted():
            return None
        row = obs.get
        failed = int(row["__failed"] or 0)
        return ExpectationResult(
            dataset=dataset,
            policy=policy,
            passed_rows=int(row["__total"]) - failed,
            failed_rows=failed,
            per_rule_failures={name: int(row[name] or 0) for name in rules},
        )

    return gated, finish


def split_expectations(
    df: DataFrame,
    rules: dict[str, str],
    dataset: str = "<anonymous>",
) -> tuple[DataFrame, DataFrame]:
    """Quarantine split: (passing_rows, violating_rows).

    The violating side carries ``__failed_rules`` (array of rule names
    that failed — a row can violate several) and ``__dataset``, the DLT
    quarantine-table pattern: instead of silently dropping bad rows,
    route them to a side table for triage/replay.

    Single-scan design: the per-rule pass/fail vector is computed once as
    an array of conditional rule names; both sides filter on its size, so
    when the caller materializes both from one cached stage there is no
    per-rule re-evaluation.
    """
    if not rules:
        return df, df.limit(0).withColumn(
            "__failed_rules", F.array().cast("array<string>")
        ).withColumn("__dataset", F.lit(dataset))
    tagged = df.withColumn("__failed_rules", _failed_rules(rules))
    passed = tagged.filter(F.size("__failed_rules") == 0).drop("__failed_rules")
    quarantined = tagged.filter(F.size("__failed_rules") > 0).withColumn(
        "__dataset", F.lit(dataset)
    )
    return passed, quarantined
