"""Capture `.explain("formatted")` for named queries into plans/<round>/.

Usage: python tools/capture_plans.py <round> <suffix> [name ...]
  round:  output subdirectory under plans/, e.g. "r10"
  suffix: "before" or "after"
  with no names: the full bench HEADLINE set.

An optimization round's plan deliverable: plans/<round>/<query>_<suffix>.txt
holds the formatted physical plan the optimization claims are judged
against (Exchange count, join strategy, PushedFilters, BatchEvalPython
nodes).
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from databricks_end_to_end_lakeflow_project_spark import registry  # noqa: E402
from databricks_end_to_end_lakeflow_project_spark.session import get_spark  # noqa: E402


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    round_name, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    if not names:
        import bench

        names = list(bench.HEADLINE)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = Path(_REPO) / "plans" / round_name
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark(f"plan-capture-{round_name}")
    qs = registry.all_queries()
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001
            plan = f"PLAN CAPTURE FAILED: {exc!r}\n"
        (out_dir / f"{name}_{suffix}.txt").write_text(plan)
        print(f"captured {name}_{suffix} ({len(plan)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
