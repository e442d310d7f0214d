from __future__ import annotations

import os
import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# The suite runs on KB-sized fixtures (sf0.001), where local[32]'s
# 32-task stages are pure scheduling overhead: a measured
# `spark.range(1).count()` costs ~500 ms at 32 cores/partitions vs
# ~80 ms single-task, and the full suite spent 47 min wall on ~2 min
# of CPU. Tests pin a small parallelism so every Spark job pays a
# small fixed cost; correctness is partition-count-independent (the
# bench keeps the driver-contract `local[$SPARK_GRAFT_CPUS]` session —
# this knob is test-session-only, set before any get_spark() call).
os.environ["SPARK_GRAFT_CPUS"] = os.environ.get("SPARK_GRAFT_TEST_CPUS", "8")
# The session's default driver heap (48g) exceeds a small host's RAM, and
# with that much headroom the JVM grows instead of collecting: one full
# suite run reached 14.5 GB RSS and was OOM-killed on a 15 GB host. The
# fixtures are KB-sized, so the test session caps the heap.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")

from plumberapp_spark import get_spark  # noqa: E402
from plumberapp_spark.session import TABLES  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def ivf_codec(name: str):
    """The IVF cell codec a codec-parametrized test names: ``raw``
    float cells, ``sq`` int8 scalar quantization, or ``pq`` product
    quantization at its defaults (8 subspaces x 16 entries)."""
    from plumberapp_spark.llm.pq import PQCodec
    from plumberapp_spark.llm.similarity import RAW, SQ

    return {"raw": RAW, "sq": SQ, "pq": PQCodec()}[name]


@pytest.fixture(scope="session")
def spark():
    s = get_spark("plumberapp_spark_tests")
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()
