"""Persisted lexical (segmented) index + persisted unigram LM (round
8): serving paths must be output-identical to the direct operators,
rebuild on source rewrite, and actually prune the postings scan."""

from __future__ import annotations

import os
import shutil
import sys
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _two_segment_index(docs, path):
    """An 80/20 two-segment index whose union is ``docs`` (the
    registered fixture's shape)."""
    from plumberapp_spark.llm.segments import append_segment, build_segmented_index

    build_segmented_index(docs.filter(F.col("doc_id") % 5 != 0), path)
    append_segment(docs.filter(F.col("doc_id") % 5 == 0), path)
    return path


def _copy_sf(tmp_path, name):
    sf_dir = str(tmp_path / name)
    os.makedirs(sf_dir)
    src = f"{SF_DIR}/documents.parquet"
    if os.path.isdir(src):
        shutil.copytree(src, f"{sf_dir}/documents.parquet")
    else:
        shutil.copy(src, f"{sf_dir}/documents.parquet")
    return sf_dir


def test_tfidf_indexed_matches_direct(spark, tmp_path):
    """tf-idf served from the segmented index for query docs drawn from
    the corpus == tfidf_topk on the same corpus — same weights,
    rounding, tie-breaks, every row."""
    from plumberapp_spark.llm.dedup import tfidf_topk
    from plumberapp_spark.llm.segments import refresh_tfidf_norms, tfidf_topk_segmented

    docs = _docs(spark)
    queries = docs.filter(F.col("doc_id") < 5)
    path = _two_segment_index(docs, str(tmp_path / "lex"))
    refresh_tfidf_norms(spark, path)
    direct = tfidf_topk(docs, queries, k=10)
    indexed = tfidf_topk_segmented(
        spark, path, queries, k=10, text_col="text", id_col="doc_id"
    )
    cols = ["query_id", "neighbor_id", "cos_sim", "rank"]
    assert _rows(indexed, cols) == _rows(direct, cols)


def test_bm25_indexed_matches_direct(spark, tmp_path):
    from plumberapp_spark.llm.dedup import bm25_topk
    from plumberapp_spark.llm.segments import bm25_topk_segmented

    docs = _docs(spark)
    queries = docs.filter(F.col("doc_id") < 5)
    path = _two_segment_index(docs, str(tmp_path / "lex"))
    direct = bm25_topk(docs, queries, k=10)
    indexed = bm25_topk_segmented(
        spark, path, queries, k=10, text_col="text", id_col="doc_id"
    )
    cols = ["query_id", "neighbor_id", "bm25", "rank"]
    assert _rows(indexed, cols) == _rows(direct, cols)


def test_in_corpus_queries_exclude_self_like_direct(spark, tmp_path):
    """In-corpus query docs served from the segmented index return
    exactly the direct operators' rows, and the one self-exclusion rule
    (neighbor_id != query_id) is what keeps each query doc out of its
    own results: served under an id outside the corpus, the same text
    finds its own doc."""
    from plumberapp_spark.llm.dedup import bm25_topk, tfidf_topk
    from plumberapp_spark.llm.segments import (
        bm25_topk_segmented,
        refresh_tfidf_norms,
        tfidf_topk_segmented,
    )

    docs = _docs(spark)
    queries = docs.filter(F.col("doc_id").isin(3, 17, 42))
    path = _two_segment_index(docs, str(tmp_path / "lex"))
    refresh_tfidf_norms(spark, path)
    kw = {"k": 10, "text_col": "text", "id_col": "doc_id"}
    bm25 = bm25_topk_segmented(spark, path, queries, **kw).collect()
    cos = tfidf_topk_segmented(spark, path, queries, **kw).collect()
    assert sorted(map(tuple, bm25)) == sorted(map(tuple, bm25_topk(docs, queries, k=10).collect()))
    assert sorted(map(tuple, cos)) == sorted(map(tuple, tfidf_topk(docs, queries, k=10).collect()))
    assert bm25 and cos
    assert all(r["query_id"] != r["neighbor_id"] for r in bm25 + cos)
    # the same texts under ids no doc carries keep their own doc: the
    # in-corpus ranking is that ranking with self removed, re-packed
    shifted = queries.select((F.col("doc_id") + 10**9).alias("doc_id"), "text")
    wide = bm25_topk_segmented(spark, path, shifted, **{**kw, "k": 50}).collect()
    for q in (3, 17, 42):
        ranked = [r["neighbor_id"] for r in sorted(wide, key=lambda r: r["rank"])
                  if r["query_id"] == q + 10**9]
        assert q in ranked
        got = [r["neighbor_id"] for r in sorted(bm25, key=lambda r: r["rank"])
               if r["query_id"] == q]
        assert got == [n for n in ranked if n != q][:10]


def test_postings_scan_prunes_to_query_buckets(spark, tmp_path):
    """The serving contract: a query run's postings read must carry a
    partition filter on the bucket column — |query buckets| / 64 of the
    postings touches IO, by partition pruning, not a post-scan filter."""
    from plumberapp_spark.llm.scoring import DEFAULT_BUCKETS
    from plumberapp_spark.llm.segments import _query_postings, build_segmented_index

    docs = _docs(spark)
    path = str(tmp_path / "lex")
    build_segmented_index(docs, path)
    # a one-term query: its postings read must prune to exactly 1 bucket
    one_term = spark.createDataFrame([(1, "the")], "query_id bigint, q_text string")
    pruned = _query_postings(spark, path, one_term, "q_text", "query_id", qtf=False)[-1]
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the physical scan reports the pruned partition count
    n_parts = [
        d for d in os.listdir(f"{path}/seg_00000/postings") if d.startswith("_b=")
    ]
    assert len(n_parts) > 1, "fixture produced a single bucket; test is vacuous"
    expected_bucket = pruned.select("_b").distinct().collect()
    assert len(expected_bucket) == 1
    assert 0 <= expected_bucket[0]["_b"] < DEFAULT_BUCKETS


def test_lexical_index_rebuilds_on_rewrite(spark, tmp_path):
    """ensure_segmented_index follows the sidecar staleness contract:
    any source mtime change (even backdated) triggers a rebuild; an
    unchanged source is a no-op."""
    from plumberapp_spark.llm.segments import ensure_segmented_index
    from plumberapp_spark.session import clear_table_cache

    sf_dir = _copy_sf(tmp_path, "sfL")
    path = ensure_segmented_index(spark, sf_dir, "documents")
    marker = os.path.join(path, "seg_00000", "scalars", "_SUCCESS")
    built1 = os.stat(marker).st_mtime
    ensure_segmented_index(spark, sf_dir, "documents")
    assert os.stat(marker).st_mtime == built1, "unchanged source rebuilt"
    tbl = f"{sf_dir}/documents.parquet"
    targets = [e.path for e in os.scandir(tbl)] if os.path.isdir(tbl) else [tbl]
    past = built1 - 120
    for p in targets:
        os.utime(p, (past, past))
    clear_table_cache()
    ensure_segmented_index(spark, sf_dir, "documents")
    assert os.stat(marker).st_mtime > built1, "rewrite served a stale index"


def test_unigram_lm_indexed_matches_direct(spark, tmp_path):
    """Persisted-LM scoring == direct unigram_logprob_score, and the
    bucketed terciles == direct perplexity_buckets, bit for bit."""
    from plumberapp_spark.llm.textqa import (
        build_unigram_lm,
        perplexity_buckets,
        perplexity_buckets_indexed,
        unigram_logprob_score,
        unigram_logprob_score_indexed,
    )

    docs = _docs(spark)
    path = str(tmp_path / "lm")
    build_unigram_lm(docs, path)
    cols = ["doc_id", "n_tokens", "mean_logprob"]
    assert _rows(unigram_logprob_score_indexed(spark, path, docs), cols) == _rows(
        unigram_logprob_score(docs), cols
    )
    bcols = ["doc_id", "n_tokens", "mean_logprob", "ppl_rank", "bucket"]
    assert _rows(perplexity_buckets_indexed(spark, path, docs), bcols) == _rows(
        perplexity_buckets(docs), bcols
    )


def test_lexical_index_rebuilds_on_format_bump(spark, tmp_path, monkeypatch):
    """A layout change (SEG_FORMAT bump) must force a rebuild — an
    old-layout index served into the new reader is an AnalysisException
    at serve time (hit live when the denormalized-norm column landed) —
    and the rebuilt index must serve what the direct operator does."""
    import plumberapp_spark.llm.segments as seg_mod
    from plumberapp_spark.llm.dedup import bm25_topk

    sf_dir = _copy_sf(tmp_path, "sfF")
    path = seg_mod.ensure_segmented_index(spark, sf_dir, "documents")
    marker = os.path.join(path, "seg_00000", "postings", "_SUCCESS")
    built1 = os.stat(marker).st_mtime
    monkeypatch.setattr(seg_mod, "SEG_FORMAT", seg_mod.SEG_FORMAT + 1)
    path = seg_mod.ensure_segmented_index(spark, sf_dir, "documents")
    assert os.stat(marker).st_mtime > built1, "format bump did not rebuild"

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    queries = docs.filter(F.col("doc_id") < 5)
    indexed = seg_mod.bm25_topk_segmented(
        spark, path, queries, k=10, text_col="text", id_col="doc_id"
    )
    cols = ["query_id", "neighbor_id", "bm25", "rank"]
    assert _rows(indexed, cols) == _rows(bm25_topk(docs, queries, k=10), cols)


def test_crc32_bucket_parity_driver_vs_plan(spark):
    """Every driver-side pruning-bucket computation (segmented serves,
    positional phrase_matches) rests
    on zlib.crc32(tk.encode()) % n == Spark crc32(tk) % n. Pin the
    parity directly over unicode/edge-case tokens (ADVICE r11): a
    divergence here silently drops postings rows from every pruned
    serve."""
    import zlib

    from plumberapp_spark.llm.scoring import _bucket
    from plumberapp_spark.session import local_relation

    toks = [
        "", "a", "the", "w00042", "Tok", "tok ", " tok", "añejo",
        "日本語", "emoji🙂", "tab\tsep", "mixedCASE", "ßharp", "0",
        "very-long-" + "x" * 200,
    ]
    n = 64
    df = local_relation(spark, [(t,) for t in toks], "tk string")
    got = {
        r["tk"]: r["b"]
        for r in df.select("tk", _bucket("tk", n).alias("b")).collect()
    }
    for t in toks:
        assert got[t] == zlib.crc32(t.encode("utf-8")) % n, t
