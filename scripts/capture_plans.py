"""Capture .explain('formatted') for declared queries into plans/<round>/.

Usage: python scripts/capture_plans.py <tag> [query ...]
Writes plans/<round>/<query>_<tag>.txt for each named query (default:
all declared queries; <round> is $SPARK_GRAFT_PLANS_ROUND, default r15).
Plan capture is driver-side only — no job runs — except for queries
whose construction itself runs eager work (index lifecycle builds etc.),
which execute that part as usual.

The run-specific parts of a plan are masked as it is written: expression
ids (``#123``), exchange ``plan_id=…``, RDD ids (``RDD[44]``) and the
checkout path. Two captures of identical plans are therefore identical
files, and ``diff -r`` of two capture directories is the plan-identity
check.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark import get_spark  # noqa: E402
import __spark_entry__ as entry_mod  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(
    ROOT, "plans", os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r15")
)
_MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
]


def mask(plan: str) -> str:
    """Plan text with the ids and paths that differ run to run masked."""
    plan = plan.replace(ROOT, "<repo>")
    for pat, sub in _MASKS:
        plan = pat.sub(sub, plan)
    return plan


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    os.makedirs(OUT_DIR, exist_ok=True)
    spark = get_spark("capture-plans")
    queries = entry_mod.queries()
    if not names:
        names = sorted(queries)
    failed = []
    for name in names:
        if name not in queries:
            print(f"SKIP unknown query {name}", file=sys.stderr)
            continue
        try:
            df = queries[name](spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001
            failed.append(name)
            print(f"FAIL {name}: {type(exc).__name__}: {exc}", file=sys.stderr)
            continue
        path = os.path.join(OUT_DIR, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(mask(plan))
        print(f"wrote {path}")
    if failed:
        raise SystemExit(f"failed: {failed}")
    spark.stop()


if __name__ == "__main__":
    main()
