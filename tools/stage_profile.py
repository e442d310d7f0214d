"""Per-stage wall/shuffle attribution for one query run (guide §1/§7.1:
the Stages tab's numbers, scripted). Runs each named query once with the
noop sink, then dumps every completed stage's executorRunTime, task
count, input/shuffle bytes and records from the live UI's REST API —
the "which exchange is the wall" signal that job counts alone miss.

Usage: PYTHONPATH=. python tools/stage_profile.py SF_DIR q83_bm25_search ...
Not on any bench path (ad-hoc measurement only).
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from plumberapp_spark import get_spark  # noqa: E402
import plumberapp_spark.all_queries  # noqa: F401
from plumberapp_spark.registry import REGISTRY  # noqa: E402


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as fh:
        return json.load(fh)


def main() -> None:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    os.environ["SPARK_GRAFT_SF_DIR"] = sf_dir
    # the stage table comes from the live UI's REST API, which the
    # session leaves off unless asked
    os.environ.setdefault("SPARK_GRAFT_UI", "true")
    spark = get_spark("stage_profile")
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    for name in names:
        # warm pass first so fixtures/page cache are paid outside the
        # profiled run
        df = REGISTRY[name].fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()

        before = {s["stageId"] for s in _get(f"{ui}/api/v1/applications/{app_id}/stages")}
        spark.sparkContext.setJobDescription(f"profile:{name}")
        t0 = time.perf_counter()
        df = REGISTRY[name].fn(spark, sf_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        spark.sparkContext.setJobDescription(None)
        stages = [
            s
            for s in _get(f"{ui}/api/v1/applications/{app_id}/stages?status=COMPLETE")
            if s["stageId"] not in before
        ]
        stages.sort(key=lambda s: -s.get("executorRunTime", 0))
        print(f"\n=== {name}: build {t1 - t0:.2f}s action {t2 - t1:.2f}s "
              f"({len(stages)} stages) ===")
        for s in stages[:18]:
            dur = (s.get("executorRunTime") or 0) / 1000.0
            print(
                f"  stage {s['stageId']:>4} run={dur:7.2f}s tasks={s['numCompleteTasks']:>3} "
                f"in={s.get('inputBytes', 0)/1e6:8.1f}MB sr={s.get('shuffleReadBytes', 0)/1e6:8.1f}MB "
                f"sw={s.get('shuffleWriteBytes', 0)/1e6:8.1f}MB srec={s.get('shuffleReadRecords', 0):>10} "
                f"spill={s.get('diskBytesSpilled', 0)/1e6:7.1f}MB gc={s.get('jvmGcTime', 0)/1000.0:6.1f}s "
                f"| {(s.get('name') or '')[:60]}"
            )
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
