"""Segmented incremental lexical index (round 9): append must be
lossless (serving segments == serving a from-scratch build over the
union), compaction must be lossless, half-written segments must be
invisible, layout must be read back from the index (never the
constant), and the pruned serving read must actually partition-prune."""

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


def _queries(spark):
    return spark.createDataFrame(
        [
            (1, "the data pipeline cache shuffle"),
            (2, "vector batch stream value"),
            (3, "zzz_totally_oov_term the"),
        ],
        "query_id bigint, q_text string",
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_append_equals_single_build(spark, tmp_path):
    """The module's core claim: build(A) + append(B) serves the exact
    rows (scores, ranks, ties) of build(A ∪ B). BM25's globals are
    additive across segments — this pins that the serving path
    reconstructs them correctly."""
    from plumberapp_spark.llm.segments import (
        append_segment,
        bm25_topk_segmented,
        build_segmented_index,
    )

    docs = _docs(spark)
    seg_path = str(tmp_path / "inc")
    build_segmented_index(docs.filter(F.col("doc_id") % 3 != 0), seg_path)
    append_segment(docs.filter(F.col("doc_id") % 3 == 0), seg_path)

    full_path = str(tmp_path / "full")
    build_segmented_index(docs, full_path)

    q = _queries(spark)
    inc = bm25_topk_segmented(spark, seg_path, q, k=10)
    full = bm25_topk_segmented(spark, full_path, q, k=10)
    assert _rows(inc) == _rows(full)
    assert len(_rows(inc)) > 0


def test_append_matches_direct_operator(spark, tmp_path):
    """Cross-family anchor: segmented serving of query docs drawn from
    the corpus == the direct operator over the same corpus — raw stats
    weighted at serve time and the direct lineage are the same
    function."""
    from plumberapp_spark.llm.dedup import bm25_topk
    from plumberapp_spark.llm.segments import (
        append_segment,
        bm25_topk_segmented,
        build_segmented_index,
    )

    docs = _docs(spark)
    seg_path = str(tmp_path / "inc")
    build_segmented_index(docs.filter(F.col("doc_id") % 2 == 0), seg_path)
    append_segment(docs.filter(F.col("doc_id") % 2 == 1), seg_path)

    q = docs.filter(F.col("doc_id") < 5)
    inc = bm25_topk_segmented(spark, seg_path, q, k=10, text_col="text", id_col="doc_id")
    direct = bm25_topk(docs, q, k=10)
    assert _rows(inc) == _rows(direct)


def test_compaction_is_lossless(spark, tmp_path):
    from plumberapp_spark.llm import store
    from plumberapp_spark.llm.segments import (
        append_segment,
        bm25_topk_segmented,
        build_segmented_index,
        compact_segments,
    )

    docs = _docs(spark)
    seg_path = str(tmp_path / "inc")
    build_segmented_index(docs.filter(F.col("doc_id") % 3 == 0), seg_path)
    append_segment(docs.filter(F.col("doc_id") % 3 == 1), seg_path)
    append_segment(docs.filter(F.col("doc_id") % 3 == 2), seg_path)
    assert len(store.members(seg_path, "seg", "scalars")) == 3

    out_path = str(tmp_path / "compacted")
    compact_segments(spark, seg_path, out_path)
    assert len(store.members(out_path, "seg", "scalars")) == 1
    # source untouched — compaction runs beside serving
    assert len(store.members(seg_path, "seg", "scalars")) == 3

    q = _queries(spark)
    assert _rows(bm25_topk_segmented(spark, out_path, q, k=10)) == _rows(
        bm25_topk_segmented(spark, seg_path, q, k=10)
    )


def test_half_written_segment_is_invisible(spark, tmp_path):
    """A segment that died before its postings landed (no _SUCCESS)
    must not serve — and must not AnalysisException either. The same
    holds for an LM segment whose counts landed but whose scalars
    marker did not."""
    from plumberapp_spark.llm import store
    from plumberapp_spark.llm.segments import (
        bm25_topk_segmented,
        build_segmented_index,
    )
    from plumberapp_spark.llm.textqa import bigram_logprob_score_segmented, build_bigram_lm

    docs = _docs(spark)
    seg_path = str(tmp_path / "inc")
    build_segmented_index(docs, seg_path)
    before = _rows(bm25_topk_segmented(spark, seg_path, _queries(spark), k=10))

    dead = os.path.join(seg_path, "seg_00001")
    os.makedirs(os.path.join(dead, "postings"))
    listed = store.members(seg_path, "seg", "scalars")
    assert listed == [os.path.join(seg_path, "seg_00000")]
    after = _rows(bm25_topk_segmented(spark, seg_path, _queries(spark), k=10))
    assert after == before

    lm = str(tmp_path / "lm")
    build_bigram_lm(docs.filter(F.col("doc_id") % 2 == 0), lm)
    lm_before = _rows(bigram_logprob_score_segmented(spark, lm, docs))
    # a torn LM append: counts written, the scalars marker never landed
    torn = os.path.join(lm, "seg_00001")
    build_bigram_lm(docs.filter(F.col("doc_id") % 2 == 1), str(tmp_path / "other"))
    for rel in ("bgc", "uni"):
        shutil.copytree(os.path.join(tmp_path, "other", "seg_00000", rel), f"{torn}/{rel}")
    os.makedirs(os.path.join(torn, "scalars"))
    assert store.members(lm, "seg", "scalars") == [os.path.join(lm, "seg_00000")]
    assert _rows(bigram_logprob_score_segmented(spark, lm, docs)) == lm_before


def test_append_reads_modulus_from_index(spark, tmp_path):
    """Segments of one index must share the bucket layout: an index
    built under a non-default modulus appends under THAT modulus (read
    back from seg_00000's scalars), never the current constant."""
    from plumberapp_spark.llm import store
    from plumberapp_spark.llm.segments import (
        _seg_buckets,
        append_segment,
        bm25_topk_segmented,
        build_segmented_index,
    )

    docs = _docs(spark)
    seg_path = str(tmp_path / "inc")
    build_segmented_index(docs.filter(F.col("doc_id") % 2 == 0), seg_path, n_buckets=7)
    append_segment(docs.filter(F.col("doc_id") % 2 == 1), seg_path)
    segs = store.members(seg_path, "seg", "scalars")
    assert [_seg_buckets(spark, s) for s in segs] == [7, 7]

    full_path = str(tmp_path / "full")
    build_segmented_index(docs, full_path, n_buckets=7)
    q = _queries(spark)
    assert _rows(bm25_topk_segmented(spark, seg_path, q, k=10)) == _rows(
        bm25_topk_segmented(spark, full_path, q, k=10)
    )


def test_serving_scan_prunes_to_query_buckets(spark, tmp_path):
    """The pruned read is partition pruning (the IN filter reaches the
    scan's partition filters), not a post-scan row filter — every
    segment's scan carries it."""
    from plumberapp_spark.llm import store
    from plumberapp_spark.llm.segments import (
        _union_pruned,
        append_segment,
        build_segmented_index,
    )

    docs = _docs(spark)
    seg_path = str(tmp_path / "inc")
    build_segmented_index(docs.filter(F.col("doc_id") % 2 == 0), seg_path)
    append_segment(docs.filter(F.col("doc_id") % 2 == 1), seg_path)
    segs = store.members(seg_path, "seg", "scalars")
    n_parts = [
        d
        for d in os.listdir(os.path.join(segs[0], "postings"))
        if d.startswith("_b=")
    ]
    assert len(n_parts) > 1, "fixture produced a single bucket; test is vacuous"
    pruned = _union_pruned(spark, segs, "postings", [3])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert plan.count("PartitionFilters: [isnotnull(_b") == len(segs) or plan.count(
        "PartitionFilters: [_b"
    ) == len(segs), plan
    got = pruned.select("_b").distinct().collect()
    assert [r["_b"] for r in got] == [3]


def test_oov_only_query_returns_empty(spark, tmp_path):
    from plumberapp_spark.llm.segments import bm25_topk_segmented, build_segmented_index

    docs = _docs(spark)
    seg_path = str(tmp_path / "inc")
    build_segmented_index(docs, seg_path)
    q = spark.createDataFrame(
        [(1, "zzz_never_in_corpus qqq_also_absent")], "query_id bigint, q_text string"
    )
    assert bm25_topk_segmented(spark, seg_path, q, k=10).count() == 0


def test_ensure_rebuilds_on_format_bump(spark, tmp_path, monkeypatch):
    """An index recorded under an older SEG_FORMAT rebuilds instead of
    serving an incompatible layout (the session.ensure_fixture sidecar
    contract); unchanged source + format is a no-op."""
    import plumberapp_spark.llm.segments as seg_mod
    from plumberapp_spark.llm import store

    sf_dir = str(tmp_path / "sfSeg")
    os.makedirs(sf_dir)
    src = f"{SF_DIR}/documents.parquet"
    if os.path.isdir(src):
        shutil.copytree(src, f"{sf_dir}/documents.parquet")
    else:
        shutil.copy(src, f"{sf_dir}/documents.parquet")
    path = seg_mod.ensure_segmented_index(spark, sf_dir, "documents")
    assert len(store.members(path, "seg", "scalars")) == 2
    marker = os.path.join(path, "seg_00000", "postings", "_SUCCESS")
    built1 = os.stat(marker).st_mtime

    seg_mod.ensure_segmented_index(spark, sf_dir, "documents")
    assert os.stat(marker).st_mtime == built1, "unchanged source rebuilt"

    monkeypatch.setattr(seg_mod, "SEG_FORMAT", seg_mod.SEG_FORMAT + 1)
    seg_mod.ensure_segmented_index(spark, sf_dir, "documents")
    assert os.stat(marker).st_mtime > built1, "format bump did not rebuild"
    shutil.rmtree(path, ignore_errors=True)


def test_streaming_ingest_multibatch_equals_batch_build(spark, tmp_path):
    """A multi-micro-batch stream (maxFilesPerTrigger=1 over a 3-file
    source) must produce an index that serves exactly what one batch
    build over the same docs serves — segment-per-epoch is lossless."""
    from plumberapp_spark.llm import store
    from plumberapp_spark.llm.segments import (
        bm25_topk_segmented,
        build_segmented_index,
        streaming_segment_ingest,
    )

    docs = _docs(spark)
    src = str(tmp_path / "src")
    docs.repartition(3).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(src)
    )
    idx = str(tmp_path / "streamed")
    q = streaming_segment_ingest(stream, idx, str(tmp_path / "ckpt"))
    q.awaitTermination()
    assert len(store.members(idx, "seg", "scalars")) == 3

    full = str(tmp_path / "full")
    build_segmented_index(docs, full)
    queries = _queries(spark)
    assert _rows(bm25_topk_segmented(spark, idx, queries, k=10)) == _rows(
        bm25_topk_segmented(spark, full, queries, k=10)
    )


def test_epoch_replay_is_idempotent(spark, tmp_path):
    """A replayed foreachBatch epoch (at-least-once delivery) must not
    double-ingest: the epoch-keyed name + skip_if_complete makes the
    second delivery a no-op, for the FIRST segment too."""
    from plumberapp_spark.llm import store
    from plumberapp_spark.llm.segments import (
        append_segment,
        bm25_topk_segmented,
    )

    docs = _docs(spark)
    idx = str(tmp_path / "idx")
    half = docs.filter(F.col("doc_id") % 2 == 0)
    append_segment(half, idx, name="seg_s000000000", skip_if_complete=True)
    before = _rows(bm25_topk_segmented(spark, idx, _queries(spark), k=10))
    # replay epoch 0, then deliver epoch 1 twice
    append_segment(half, idx, name="seg_s000000000", skip_if_complete=True)
    rest = docs.filter(F.col("doc_id") % 2 == 1)
    append_segment(rest, idx, name="seg_s000000001", skip_if_complete=True)
    append_segment(rest, idx, name="seg_s000000001", skip_if_complete=True)
    assert len(store.members(idx, "seg", "scalars")) == 2
    assert _rows(bm25_topk_segmented(spark, idx, _queries(spark), k=10)) != before
    # and the doubled deliveries changed nothing vs a clean two-segment build
    clean = str(tmp_path / "clean")
    append_segment(half, clean, name="seg_s000000000", skip_if_complete=True)
    append_segment(rest, clean, name="seg_s000000001", skip_if_complete=True)
    assert _rows(bm25_topk_segmented(spark, idx, _queries(spark), k=10)) == _rows(
        bm25_topk_segmented(spark, clean, _queries(spark), k=10)
    )


def test_empty_and_tokenless_segments_serve(spark, tmp_path):
    """Zero-row and token-less appends must neither break serving nor
    shift scores: empty relations fall back to plain parquet writes
    (schema preserved) and contribute zero to every additive global
    except _nd."""
    from plumberapp_spark.llm.segments import (
        append_segment,
        bm25_topk_segmented,
        build_segmented_index,
    )

    docs = _docs(spark)
    idx = str(tmp_path / "idx")
    build_segmented_index(docs, idx)
    base = _rows(bm25_topk_segmented(spark, idx, _queries(spark), k=10))
    tokenless = spark.createDataFrame(
        [(990001, None), (990002, "")], "doc_id bigint, text string"
    )
    append_segment(tokenless, idx)
    after = bm25_topk_segmented(spark, idx, _queries(spark), k=10)
    got = _rows(after)
    # two extra docs shift N and avgdl, so scores move — but every
    # query still returns a full page and no token-less doc appears
    assert len(got) == len(base)
    assert all(r[1] < 990001 for r in got)


def test_segment_scalars_exact_with_repeated_doc_id(spark, tmp_path):
    """A delta that repeats a doc id still gets exact scalars: _nd counts
    every delta row and _tt every token, whichever copy's length the
    doclens row keeps. Built twice, the segment gives the same values."""
    from plumberapp_spark.llm import store
    from plumberapp_spark.llm.segments import append_segment

    idx = str(tmp_path / "idx")
    delta = spark.createDataFrame(
        [(7, "alpha beta gamma"), (7, "delta epsilon"), (8, "zeta")],
        "doc_id bigint, text string",
    )
    got = []
    for _ in range(2):
        append_segment(delta, idx)
        seg = store.members(idx, "seg", "scalars")[-1]
        sc = spark.read.parquet(f"{seg}/scalars").first()
        got.append((sc["_nd"], sc["_tt"]))
    assert got == [(3, 6), (3, 6)]


def test_maybe_compact_swaps_when_over_budget(spark, tmp_path):
    """Above max_segments the policy compacts into a sibling and swaps
    it in atomically; serving results are unchanged and the retired
    copy is returned for deferred removal."""
    from plumberapp_spark.llm import store
    from plumberapp_spark.llm.segments import (
        append_segment,
        bm25_topk_segmented,
        build_segmented_index,
        maybe_compact,
    )

    docs = _docs(spark)
    idx = str(tmp_path / "idx")
    build_segmented_index(docs.filter(F.col("doc_id") % 4 == 0), idx)
    for m in (1, 2, 3):
        append_segment(docs.filter(F.col("doc_id") % 4 == m), idx)
    before = _rows(bm25_topk_segmented(spark, idx, _queries(spark), k=10))

    assert maybe_compact(spark, idx, max_segments=8) is None, "compacted early"
    retired = maybe_compact(spark, idx, max_segments=3)
    assert retired is not None
    assert len(store.members(retired, "seg", "scalars")) == 4
    assert len(store.members(idx, "seg", "scalars")) == 1
    assert _rows(bm25_topk_segmented(spark, idx, _queries(spark), k=10)) == before


def test_tfidf_needs_refresh_and_matches_direct(spark, tmp_path):
    """tf-idf over segments: serving without a covering norms refresh
    raises (never a silently stale cosine); after refresh it equals the
    direct operator for query docs drawn from the corpus; an append
    re-stales it."""
    import pytest

    from plumberapp_spark.llm.dedup import tfidf_topk
    from plumberapp_spark.llm.segments import (
        append_segment,
        build_segmented_index,
        refresh_tfidf_norms,
        tfidf_topk_segmented,
    )

    docs = _docs(spark)
    idx = str(tmp_path / "idx")
    build_segmented_index(docs.filter(F.col("doc_id") % 2 == 0), idx)
    q = _queries(spark)
    with pytest.raises(ValueError, match="refresh_tfidf_norms"):
        tfidf_topk_segmented(spark, idx, q, k=10).collect()

    append_segment(docs.filter(F.col("doc_id") % 2 == 1), idx)
    refresh_tfidf_norms(spark, idx)

    in_corpus = docs.filter(F.col("doc_id") < 5)
    assert _rows(
        tfidf_topk_segmented(spark, idx, in_corpus, k=10, text_col="text", id_col="doc_id")
    ) == _rows(tfidf_topk(docs, in_corpus, k=10))

    # a further append invalidates the cosine again — loud, not stale
    append_segment(
        spark.createDataFrame([(990001, "the the the")], "doc_id bigint, text string"),
        idx,
    )
    with pytest.raises(ValueError, match="refresh_tfidf_norms"):
        tfidf_topk_segmented(spark, idx, q, k=10).collect()
