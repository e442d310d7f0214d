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


def assert_matches_duckdb(sdf, sql: str, con=None, **tables) -> list[tuple]:
    """Assert ``sdf`` holds exactly DuckDB's answer to ``sql``, compared
    the way tools/check_correctness.py compares a query with its oracle:
    columns aligned by name, row order ignored, floats to 9 places.

    ``sql`` runs on ``con`` (e.g. the ``duck`` fixture's views over the
    sf0.001 tables) or, when ``tables`` are given, on a fresh connection
    with each Spark frame registered under its keyword name — so the
    oracle sees the very rows the operator saw. Returns the Spark rows."""
    from tools.check_correctness import canon

    if con is None:
        con = duckdb.connect()
        for name, frame in tables.items():
            con.register(name, frame.toPandas())
    res = con.execute(sql)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    scols = list(sdf.columns)
    srows = [tuple(r) for r in sdf.collect()]
    assert sorted(scols) == sorted(ocols), f"columns: spark={scols} duckdb={ocols}"

    def canon_rows(cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        return sorted(tuple(canon(r[i]) for i in order) for r in rows)

    got, want = canon_rows(scols, srows), canon_rows(ocols, orows)
    assert got == want, (
        f"{len(got)} spark rows vs {len(want)} duckdb rows; first differences: "
        f"{sorted(set(got) ^ set(want))[:5]}"
    )
    return srows
