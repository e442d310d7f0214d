"""Spark-job floor of index serving.

Each index request pays a fixed cost per Spark job, so these tests pin
job counts (load-independent, unlike walls) on a tiny index: a segment
append tokenizes its delta once and runs at most 10 jobs, an IVF append
is one write job, an LM append reads its delta twice in at most 5 jobs,
the action of a tombstoned segmented BM25 serve runs
at most 6 jobs, a newly written relation is read with no
schema-inference job, and the shared top-k tail crosses one exchange."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR

_GROUPS = itertools.count()


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran), counted by job group."""
    sc = spark.sparkContext
    group = f"job-floor-{next(_GROUPS)}"
    sc.setJobGroup(group, "index job floor")
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def lex(spark, docs, tmp_path_factory):
    from plumberapp_spark.llm.segments import build_segmented_index

    path = str(tmp_path_factory.mktemp("floor") / "lex")
    build_segmented_index(docs.filter("doc_id < 200"), path, n_buckets=4)
    return path


def test_append_segment_tokenizes_once(spark, docs, lex):
    """The delta's text is computed once: no emptiness probe re-runs the
    tokenize pass ahead of the postings write, and termstats, doclens and
    scalars read back what was written."""
    from plumberapp_spark.llm.segments import append_segment

    calls = spark.sparkContext.accumulator(0)

    def text(t):
        calls.add(1)
        return t

    udf = F.udf(text, "string")
    delta = docs.filter("doc_id >= 200 AND doc_id < 220").withColumn("text", udf("text"))
    _, jobs = _jobs(spark, lambda: append_segment(delta, lex))
    assert calls.value == 20
    assert jobs <= 10


def test_ivf_append_is_one_job(spark, tmp_path):
    from plumberapp_spark.llm.similarity import append_to_ivf_index, build_ivf_index

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path / "ivf")
    build_ivf_index(emb.filter("vec_id < 100"), path, n_centroids=4)
    _, jobs = _jobs(
        spark,
        lambda: append_to_ivf_index(emb.filter("vec_id >= 100 AND vec_id < 120"), path),
    )
    assert jobs == 1


def test_lm_append_job_floor(spark, docs, tmp_path):
    """An LM append reads its delta twice, once per count relation
    (``bgc`` and ``uni``), and sums the token total from the written
    ``uni``: 5 jobs. Before the total was derived from ``uni`` it was a
    third pass over the delta: 6 jobs and three reads."""
    from plumberapp_spark.llm.textqa import append_bigram_segment, build_bigram_lm

    path = str(tmp_path / "lm")
    build_bigram_lm(docs.filter("doc_id < 200"), path)
    calls = spark.sparkContext.accumulator(0)

    def text(t):
        calls.add(1)
        return t

    udf = F.udf(text, "string")
    delta = docs.filter("doc_id >= 200 AND doc_id < 220").withColumn("text", udf("text"))
    _, jobs = _jobs(spark, lambda: append_bigram_segment(delta, path))
    assert calls.value == 40
    assert jobs <= 5


def test_tombstoned_bm25_action_job_floor(spark, docs, lex):
    """On a tombstoned index the serve's action runs at most 6 jobs: the
    tombstones are a NOT IN filter in the scan, N and avgdl are literals,
    and the ranking tail adds one exchange."""
    from plumberapp_spark.llm.segments import bm25_topk_segmented, delete_docs

    delete_docs(spark, lex, docs.filter("doc_id % 7 = 3").select("doc_id"))
    queries = spark.createDataFrame(
        [(1, "spark join window"), (2, "merge slow"), (3, "customer data")],
        "query_id bigint, q_text string",
    )
    ranked = bm25_topk_segmented(spark, lex, queries, k=10)
    rows, jobs = _jobs(spark, ranked.collect)
    assert len(rows) == 30
    assert not {r["neighbor_id"] for r in rows if r["neighbor_id"] % 7 == 3}
    assert jobs <= 6


def test_new_relation_read_runs_no_job(spark, tmp_path):
    """A newly written local relation is read under the Spark schema in
    one footer, with no schema-inference job, and Spark still adds the
    partition column from the directory names."""
    from plumberapp_spark.session import read_parquet_cached

    out = str(tmp_path / "rel")
    spark.range(0, 40, 1, 2).select(
        (F.col("id") % 4).cast("int").alias("_b"), F.col("id").alias("doc_id")
    ).write.partitionBy("_b").parquet(out)
    df, jobs = _jobs(spark, lambda: read_parquet_cached(spark, out))
    assert jobs == 0
    assert df.schema == spark.read.parquet(out).schema
    assert df.filter("_b = 1").count() == 10


def test_topk_tail_is_one_exchange(spark):
    """One row_number window: a Partial WindowGroupLimit caps each map
    partition at k rows per query, under the single exchange on
    query_id."""
    from plumberapp_spark.llm.scoring import _two_stage_topk

    scored = spark.range(0, 2000, 1, 4).select(
        (F.col("id") % 5).alias("query_id"),
        F.col("id").alias("neighbor_id"),
        ((F.col("id") * 7919) % 1000).cast("double").alias("score"),
    )
    top = _two_stage_topk(scored, 10, "score")
    plan = top._jdf.queryExecution().executedPlan().toString()
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert len(exchanges) == 1
    assert "hashpartitioning(query_id" in exchanges[0]
    below = plan.splitlines()[plan.splitlines().index(exchanges[0]) + 1]
    assert "WindowGroupLimit" in below and "Partial" in below
    rows = top.collect()
    assert len(rows) == 50
    expect = {
        q: sorted(
            ((((i * 7919) % 1000), i) for i in range(q, 2000, 5)),
            key=lambda t: (-t[0], t[1]),
        )[:10]
        for q in range(5)
    }
    got = {
        q: [(r["score"], r["neighbor_id"]) for r in sorted(
            (r for r in rows if r["query_id"] == q), key=lambda r: r["rank"]
        )]
        for q in range(5)
    }
    assert got == {q: [(float(s), i) for s, i in v] for q, v in expect.items()}
