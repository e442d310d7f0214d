"""Exact pair search (q53 path): the grid block self-join must produce the
same top-k pairs as a single-cell run and as the quadratic DuckDB pair
join (q21's oracle at the test's threshold and k), including when the
corpus spans many grid cells — and its plan must not
move the corpus through the driver (no broadcast of an n×d matrix; the only
driver-side scalar is count())."""

from __future__ import annotations

import sys
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from plumberapp_spark.llm.similarity import (  # noqa: E402
    near_dup_pairs_cosine,
    top_pairs_cosine_blocked,
)
from plumberapp_spark.queries_llm import embedding_pairs_sql  # noqa: E402
from tests.conftest import assert_matches_duckdb  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def _pairs(df):
    return sorted(map(tuple, df.collect()))


def test_multi_cell_grid_matches_single_cell(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    one_cell = _pairs(top_pairs_cosine_blocked(emb, k=40, rows_per_block=4096))
    many_cells = _pairs(top_pairs_cosine_blocked(emb, k=40, rows_per_block=60))
    assert one_cell == many_cells


def test_grid_matches_expression_form(spark, duck):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    assert_matches_duckdb(
        top_pairs_cosine_blocked(emb, k=25, rows_per_block=64),
        embedding_pairs_sql(threshold=None, k=25),
        duck,
    )


def test_near_dup_thresholded_grid_matches_expression(spark, duck):
    # The real near-dup harvest: emit ALL pairs >= threshold. Grid path
    # (k=None, threshold in-cell) must equal the O(n²) pair join.
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    thr = 0.3
    grid = assert_matches_duckdb(
        near_dup_pairs_cosine(emb, threshold=thr, rows_per_block=64),
        embedding_pairs_sql(threshold=thr, k=None),
        duck,
    )
    assert len(grid) > 0


def test_near_dup_topk_matches_expression(spark, duck):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    grid = assert_matches_duckdb(
        near_dup_pairs_cosine(emb, threshold=-1.0, k=30, rows_per_block=64),
        embedding_pairs_sql(threshold=-1.0, k=30),
        duck,
    )
    assert len(grid) == 30


def test_near_dup_grid_plan_has_no_corpus_broadcast(spark):
    # q21's round-2 anti-pattern (broadcast crossJoin of the full corpus)
    # must be gone: the grid plan has no BroadcastExchange at all.
    from tests.test_explain_plans import formatted_plan

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = formatted_plan(near_dup_pairs_cosine(emb, threshold=-1.0, k=50))
    assert "FlatMapGroupsInPandas" in plan
    assert "BroadcastExchange" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_grid_pair_search_string_ids(spark):
    # ADVICE r3: the grid path hard-cast ids to int64 and declared a
    # bigint output schema, breaking string doc ids. The pair-output id
    # type must follow the input id column.
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(80)
    as_str = emb.withColumn("vec_id", F.concat(F.lit("doc-"), F.col("vec_id").cast("string")))
    out = top_pairs_cosine_blocked(as_str, k=15, rows_per_block=32)
    assert dict(out.dtypes)["id_a"] == "string"
    rows = out.collect()
    assert len(rows) == 15
    assert all(r["id_a"] < r["id_b"] and r["id_a"].startswith("doc-") for r in rows)
    # values must match the same search over the original integer ids,
    # modulo the id remapping changing only tie-breaks at equal cos_sim
    int_out = top_pairs_cosine_blocked(emb, k=15, rows_per_block=32).collect()
    assert sorted(round(r["cos_sim"], 6) for r in rows) == sorted(
        round(r["cos_sim"], 6) for r in int_out
    )


def test_brute_force_query_id_keeps_query_schema(spark):
    # query_id output column takes the QUERY side's id type even when it
    # differs from the corpus id type (ADVICE r3).
    from plumberapp_spark.llm.similarity import brute_force_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(60)
    queries = (
        emb.limit(5)
        .withColumn("vec_id", F.concat(F.lit("q"), F.col("vec_id").cast("string")))
    )
    out = brute_force_topk(emb, queries, k=3)
    types = dict(out.dtypes)
    assert types["query_id"] == "string" and types["neighbor_id"] == "bigint"
    assert out.count() == 15


def test_no_corpus_collect_in_lineage(spark):
    # The scale guarantee: the pair search is a pure DataFrame lineage —
    # the plan shows the grid shuffle + FlatMapGroupsInPandas reading from
    # the parquet scan, with no driver-materialized LocalTableScan (the old
    # implementation collected the whole corpus and broadcast it).
    from tests.test_explain_plans import formatted_plan

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = formatted_plan(top_pairs_cosine_blocked(emb, k=10))
    assert "FlatMapGroupsInPandas" in plan
    assert "LocalTableScan" not in plan
    assert "Scan parquet" in plan
