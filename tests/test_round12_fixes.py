"""Round-12 optimization-hardening pins: the driver-side read guards,
the tombstone IN-set fast path, the phrase extension loop's linear plan
growth, and the oversized-term-set guard (VERDICT/ADVICE r11)."""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tests.conftest import SF_DIR  # noqa: E402


def test_local_parquet_rows_byte_guard(spark, tmp_path):
    """The row-count guard alone let a wide-row relation under the row
    cap pull hundreds of MB into Python lists (VERDICT r11 #9) — the
    byte guard must refuse before reading any data."""
    from plumberapp_spark.session import local_parquet_rows

    p = str(tmp_path / "wide")
    spark.range(0, 64).select(
        "id", F.array(*[F.rand(7)] * 32).alias("v")
    ).coalesce(1).write.parquet(p)
    rows = local_parquet_rows(p, max_rows=1 << 20)
    assert rows is not None and len(rows) == 64
    assert local_parquet_rows(p, max_rows=1 << 20, max_bytes=64) is None


def test_parquet_dir_rows_counts_and_guards(spark, tmp_path):
    from plumberapp_spark.session import parquet_dir_rows

    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    spark.range(0, 100).coalesce(1).write.parquet(a)
    spark.range(0, 23).coalesce(2).write.parquet(b)
    assert parquet_dir_rows(a) == 100
    # missing path counts 0 (a pruned-empty partition dir), sums hold
    assert parquet_dir_rows(a, b, str(tmp_path / "missing")) == 123
    # a non-parquet FILE path is unreadable -> None (fall back)
    bad = tmp_path / "x.txt"
    bad.write_text("nope")
    assert parquet_dir_rows(str(bad)) is None


def test_tombstone_local_ids_match_anti_join(spark, tmp_path):
    """The IN-set tombstone fast path must exclude exactly the ids the
    broadcast anti-join excluded."""
    from plumberapp_spark.llm import store
    from plumberapp_spark.llm.similarity import (
        _read_ivf_cells,
        build_ivf_index,
        delete_from_ivf_index,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, n_centroids=4)
    dead = emb.filter(F.col("vec_id") % 5 == 1).select("vec_id")
    delete_from_ivf_index(spark, path, dead)
    local = store.tomb_local_ids(store.tombstones(path, "ids"))
    assert local is not None
    col_name, vals = local
    assert col_name == "vec_id"
    assert set(vals) == {r["vec_id"] for r in dead.collect()}
    served = {r["vec_id"] for r in _read_ivf_cells(spark, path).collect()}
    alive = {r["vec_id"] for r in emb.filter(F.col("vec_id") % 5 != 1).collect()}
    assert served == alive
    # the served plan must carry the IN-set as a plain filter — no
    # broadcast-exchange build job per serve
    plan = _read_ivf_cells(spark, path)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan


def test_phrase_extension_plan_is_linear_in_length(spark, tmp_path):
    """ADVICE r11: the offset-extension loop used to double the logical
    plan per offset (exponential in phrase length — a ~20-term phrase
    hung the analyzer). A 12-term phrase must now plan and run in
    seconds, and still count its occurrences exactly."""
    from plumberapp_spark.llm.positional import (
        build_positional_index,
        phrase_matches,
    )
    from plumberapp_spark.session import local_relation

    words = [f"w{i}" for i in range(12)]
    text = " ".join(words)
    docs = local_relation(
        spark,
        [(1, text + " " + text), (2, text), (3, "w0 w1 w2 unrelated")],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "pos")
    build_positional_index(docs, path)
    queries = local_relation(
        spark, [(100, words)], "query_id bigint, phrase array<string>"
    )
    t0 = time.perf_counter()
    out = {
        (r["query_id"], r["doc_id"]): r["n_occ"]
        for r in phrase_matches(spark, path, queries).collect()
    }
    wall = time.perf_counter() - t0
    assert out == {(100, 1): 2, (100, 2): 1}
    assert wall < 60, f"12-term phrase took {wall:.1f}s — plan growth regressed"


def test_query_postings_rejects_term_set_above_contract(spark, tmp_path):
    """The lexical serving core collects its (query, term) pairs under
    the 100k bounded-collect contract: a larger query side raises with
    guidance (batch the queries) instead of collecting it, and the
    index stays servable for a query inside the contract."""
    from plumberapp_spark.llm.segments import bm25_topk_segmented, build_segmented_index
    from plumberapp_spark.session import local_relation

    docs = local_relation(
        spark,
        [(1, "alpha beta gamma"), (2, "beta delta")],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "lex")
    build_segmented_index(docs, path)
    big = spark.range(0, 100_050).select(
        F.lit(7).cast("bigint").alias("query_id"),
        F.concat(F.lit("t"), F.col("id")).alias("q_text"),
    )
    with pytest.raises(ValueError, match="broadcastable contract"):
        bm25_topk_segmented(spark, path, big, k=5)
    small = local_relation(spark, [(7, "beta")], "query_id bigint, q_text string")
    got = bm25_topk_segmented(spark, path, small, k=5).collect()
    assert {r["neighbor_id"] for r in got} == {1, 2}
