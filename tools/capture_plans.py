"""Dump `.explain("formatted")` for named queries into per-query files —
the before/after plan evidence for optimization rounds (guide §7.2).

Usage: python tools/capture_plans.py [--executed] OUT_DIR SUFFIX q01_... q02_...
       (writes OUT_DIR/<query>_<SUFFIX>.txt)

``--executed`` collects each query first and dumps the plan it ran: the
adaptive plan's final form, with its query stages, broadcasts and
coalesced shuffle reads as executed.

Run from the repo checkout whose plans you want: a worktree at the
pre-optimization commit for `_before`, the working tree for `_after`.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from plumberapp_spark import get_spark  # noqa: E402
import plumberapp_spark.all_queries  # noqa: F401
from plumberapp_spark.registry import REGISTRY  # noqa: E402


def formatted_plan(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def main() -> None:
    args = sys.argv[1:]
    executed = "--executed" in args
    out_dir, suffix, *names = [a for a in args if a != "--executed"]
    os.makedirs(out_dir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    spark = get_spark("capture_plans")
    for name in names:
        try:
            df = REGISTRY[name].fn(spark, sf_dir)
            if executed:
                df.collect()
            plan = formatted_plan(df)
        except Exception as e:  # noqa: BLE001
            plan = f"<error: {e}>"
        path = Path(out_dir) / f"{name}_{suffix}.txt"
        path.write_text(plan)
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
